"""Streaming layer: broker / subscriptions / windows.

The reference is an in-process pub/sub hub (src/broker.ts). Here the
`events` table is the spine: publish = columnar append; a
subscription is either a direct in-process delivery (reference-parity
semantics, used by the behavioral tests) or a checkpointed cursor over
the topic's write sequence (``_seq``): each run reads the rows past
its committed offset, so a subscription resumes where it stopped,
delivers each row once across restarts and rewrites, and takes the
backlog and live rows alike.
"""

from env_event_stream_spark.streaming.broker import (  # noqa: F401
    EventBroker,
    PublishResult,
    SubscriptionOptions,
    default_broker,
)
