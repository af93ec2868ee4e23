"""Port of the reference's end-to-end behavioral tests
(tests/broker_test.ts, FIXTURES.md §A3) against the Spark broker."""

from __future__ import annotations

import datetime as dt
import gc
import os

import pyarrow.parquet as pq
import pytest
from conftest import JobBudget

import env_event_stream_spark.storage.event_store as event_store
from env_event_stream_spark.storage.dlq_store import ParquetDeadLetterQueue
from env_event_stream_spark.storage.event_store import ParquetEventStore, make_event
from env_event_stream_spark.streaming import (
    EventBroker,
    SubscriptionOptions,
)


@pytest.fixture()
def broker(spark):
    return EventBroker(spark)  # store and DLQ in a private temp dir


def test_topic_creation(broker):
    broker.create_topic("test-topic")
    assert "test-topic" in broker.list_topics()


def test_pub_sub_roundtrip(broker):
    """broker_test.ts:13-30: payload equality + receiver count."""
    received = []
    broker.subscribe("test-topic", lambda e: received.append(e))
    res = broker.publish("test-topic", "test-event", {"message": "Hello, World!"})
    assert res.success
    assert res.receiver_count == 1
    assert res.event_id
    assert len(received) == 1
    assert received[0].payload == '{"message": "Hello, World!"}'
    assert received[0].type == "test-event"
    assert received[0].topic == "test-topic"


def test_event_type_filtering(broker):
    """broker_test.ts:32-48: publish [wanted, unwanted, wanted] →
    subscriber with filter sees exactly the 2 wanted, in order."""
    seen = []
    broker.subscribe(
        "t",
        lambda e: seen.append(e.type),
        SubscriptionOptions(event_types=["wanted-event"]),
    )
    broker.publish("t", "wanted-event", {"n": 1})
    broker.publish("t", "unwanted-event", {"n": 2})
    broker.publish("t", "wanted-event", {"n": 3})
    assert seen == ["wanted-event", "wanted-event"]


def test_failure_goes_to_dlq(broker):
    """broker_test.ts:50-75: always-throwing handler, maxRetries=1 →
    one DLQ entry carrying error + subscription name."""

    def failing(_e):
        raise RuntimeError("Intentional failure")

    broker.subscribe(
        "t",
        failing,
        SubscriptionOptions(name="failing-handler", max_retries=1, retry_delay=0),
    )
    res = broker.publish("t", "boom", {"x": 1})
    assert res.success  # publish succeeds even when delivery fails
    entries = broker.dlq.get_events().collect()
    assert len(entries) == 1
    assert entries[0].error == "Intentional failure"
    assert entries[0].subscription == "failing-handler"
    assert entries[0].attempts == 1
    assert entries[0].event.type == "boom"


def test_get_and_delete_topic(broker):
    """Reference broker.ts:48-64: getTopic (metadata lookup, no
    auto-create) + deleteTopic. Delete also drops the topic's stored
    events, DLQ entries, and subscriptions (documented upgrade)."""
    assert broker.get_topic("missing") is None

    broker.create_topic("dt", max_events=10)
    assert broker.get_topic("dt").max_events == 10

    def failing(_):
        raise RuntimeError("x")

    broker.subscribe(
        "dt", failing,
        SubscriptionOptions(name="dsub", max_retries=1, retry_delay=0),
    )
    broker.publish("dt", "e", {"n": 1})
    broker.publish("other", "e", {"n": 2})
    assert broker.dlq.get_events().count() == 1

    assert broker.delete_topic("dt") is True
    assert broker.delete_topic("dt") is False  # already gone
    assert "dt" not in broker.list_topics()
    assert broker.get_topic("dt") is None
    assert broker.store.get_events("dt").count() == 0
    assert broker.dlq.get_events().count() == 0
    assert "dsub" not in broker.subscriptions
    assert broker.store.get_events("other").count() == 1  # untouched


def test_max_events_cutoff_bounded_collect(spark, monkeypatch):
    """Scale guard for the count cap: a sweep over 50 one-row files
    reads the keys of the one file that holds the cut, and no other,
    and starts no Spark job (a 100M-row overflow must not become a
    100M-row read)."""
    broker = EventBroker(spark)
    broker.create_topic("big", max_events=5)
    base = dt.datetime(2024, 1, 1)
    for i in range(50):
        broker.store.save_event(
            make_event("big", "e", timestamp=base + dt.timedelta(seconds=i),
                       event_id=f"e-{i:03d}")
        )
    read = []
    orig = event_store.read_rows

    def spying(schema, files, *args, **kwargs):
        read.extend(files)
        return orig(schema, files, *args, **kwargs)

    monkeypatch.setattr(event_store, "read_rows", spying)
    with JobBudget(spark) as budget:
        assert broker.apply_retention("big") == 45
        assert budget.jobs() == 0
    assert len(set(read)) == 1
    assert pq.read_table(read[0]).column("id").to_pylist() == ["e-045"]
    kept = [r.id for r in broker.store.get_events("big").collect()]
    assert kept == [f"e-{i:03d}" for i in range(45, 50)]


@pytest.mark.parametrize("backend", ["parquet"])
def test_max_events_exact_when_timestamps_tie(spark, tmp_path, backend):
    """The count cap cuts on (timestamp, id): rows tied with the
    cutoff row on timestamp alone do not survive it."""
    broker = EventBroker(spark, str(tmp_path / "b"))
    broker.create_topic("tie", max_events=2)
    same = dt.datetime(2024, 1, 1)
    broker.store.save_events([
        make_event("tie", "e", timestamp=same, event_id=f"e-{i}") for i in range(5)
    ])
    assert broker.apply_retention("tie") == 3
    assert [r.id for r in broker.store.get_events("tie").collect()] == ["e-3", "e-4"]


def test_retry_count(broker):
    """Retry semantics: exactly max_retries TOTAL handler attempts
    (reference src/subscription.ts:95 retries while attempt <
    maxRetries, counting the first call as attempt 1)."""
    calls = []

    def flaky(e):
        calls.append(1)
        raise RuntimeError("nope")

    broker.subscribe(
        "t", flaky, SubscriptionOptions(max_retries=2, retry_delay=0)
    )
    broker.publish("t", "x", {})
    assert len(calls) == 2  # attempt 1 + one retry = maxRetries total


def test_recovers_on_retry(broker):
    calls = []

    def flaky_then_ok(e):
        calls.append(1)
        if len(calls) < 2:
            raise RuntimeError("transient")

    broker.subscribe(
        "t", flaky_then_ok, SubscriptionOptions(max_retries=3, retry_delay=0)
    )
    broker.publish("t", "x", {})
    assert len(calls) == 2
    assert broker.dlq.get_events().count() == 0


def test_pause_drops_resume_delivers(broker):
    """T8 faithful mode: paused events are dropped, not buffered
    (src/subscription.ts:79-81)."""
    seen = []
    sid = broker.subscribe("t", lambda e: seen.append(e.type))
    broker.publish("t", "before", {})
    broker.pause(sid)
    broker.publish("t", "during", {})
    broker.resume(sid)
    broker.publish("t", "after", {})
    assert seen == ["before", "after"]


def test_historical_catchup(broker):
    """receiveHistoricalEvents (src/topic.ts:71-86): backlog is
    type-filtered, not time-filtered."""
    broker.publish("t", "a", {"n": 1})
    broker.publish("t", "b", {"n": 2})
    broker.publish("t", "a", {"n": 3})
    seen = []
    broker.subscribe(
        "t",
        lambda e: seen.append(e.type),
        SubscriptionOptions(event_types=["a"], receive_historical=True),
    )
    assert seen == ["a", "a"]


def test_historical_backlog_is_not_collected(broker, spark, monkeypatch):
    """The receive_historical backlog is iterated like an unlimited
    replay, never pulled whole into driver memory with collect()."""
    for i in range(4):
        broker.publish("t", "a" if i % 2 else "b", {"n": i})
    want = [r.id for r in broker.store.get_events("t", event_types=["a"]).collect()]

    def no_collect(self):
        raise AssertionError("backlog must not be collected")

    monkeypatch.setattr(type(spark.range(0)), "collect", no_collect)
    seen = []
    broker.subscribe(
        "t",
        lambda e: seen.append(e.id),
        SubscriptionOptions(event_types=["a"], receive_historical=True),
    )
    assert seen == want and len(seen) == 2


def test_replay_events(broker):
    """replayEvents (src/broker.ts:144-161): the topic's events in
    (timestamp, id) order, the first ``limit`` of them; a limit of 0 or
    None replays them all. A timestamp tie written out of id order,
    and a published event after them."""
    t0 = dt.datetime(2024, 1, 1)
    events = [make_event("t", "e", event_id=f"id{i}", timestamp=t0 + dt.timedelta(seconds=s))
              for i, s in ((4, 3), (3, 1), (2, 2), (1, 1), (0, 0))]
    broker.store.save_events(events[:2])
    broker.store.save_events(events[2:])
    latest = broker.publish("t", "e", {"i": 5}).event_id
    order = ["id0", "id1", "id3", "id2", "id4", latest]
    for limit, want in ((3, order[:3]), (0, order), (None, order), (9, order)):
        seen = []
        assert broker.replay_events("t", lambda e: seen.append(e.id), limit=limit) == len(want)
        assert seen == want, limit


def test_dlq_manual_redrive(broker):
    """DLQ retry (src/deadletter.ts:78-103 + broker.ts:166-183):
    success removes, failure increments attempts."""
    state = {"fail": True}

    def handler(e):
        if state["fail"]:
            raise RuntimeError("down")

    broker.subscribe(
        "t", handler, SubscriptionOptions(name="h1", max_retries=0, retry_delay=0)
    )
    broker.publish("t", "x", {})
    entry = broker.dlq.get_events().collect()[0]
    # still failing: attempts increments
    assert broker.retry_dlq_event(entry.event.id) is False
    assert broker.dlq.get_events().collect()[0].attempts == 2
    # fixed: redrive succeeds and removes
    state["fail"] = False
    assert broker.retry_dlq_event(entry.event.id) is True
    assert broker.dlq.get_events().count() == 0
    assert broker.retry_dlq_event("missing-id") is False


def test_schema_validation_gate(broker):
    """T9 (src/topic.ts:103-110): invalid payload → success:false;
    events with no registered schema pass."""
    from env_event_stream_spark.schema_registry import SchemaRegistry

    reg = SchemaRegistry()
    reg.register(
        "user.created",
        {
            "type": "object",
            "required": ["userId", "username", "email"],
            "properties": {
                "userId": {"type": "string"},
                "username": {"type": "string"},
                "email": {"type": "string"},
            },
        },
    )
    broker.create_topic("users", registry=reg)
    ok = broker.publish(
        "users", "user.created",
        {"userId": "1", "username": "u", "email": "e@x"},
    )
    assert ok.success
    bad = broker.publish("users", "user.created", {"userId": "1"})
    assert not bad.success
    assert "required" in bad.error
    wrong_type = broker.publish("users", "user.created", {"userId": 5, "username": "u", "email": "e"})
    assert not wrong_type.success
    other = broker.publish("users", "unregistered.type", {"whatever": True})
    assert other.success


def test_publish_many_validates_every_event_first(broker):
    """publish_many applies the topic's registry like publish: the
    first invalid event raises with its index, before any event of the
    batch is persisted or delivered."""
    from env_event_stream_spark.schema_registry import SchemaRegistry

    reg = SchemaRegistry()
    reg.register(
        "order",
        {"type": "object", "required": ["amount"], "properties": {"amount": {"type": "number"}}},
    )
    broker.create_topic("orders", registry=reg)
    seen = []
    broker.subscribe("orders", seen.append)
    assert not broker.publish("orders", "order", {"amount": "x"}).success
    with pytest.raises(ValueError, match=r"event 1: \$\.amount: expected number"):
        broker.publish_many(
            "orders",
            [("order", {"amount": 1}, None), ("order", {"amount": "x"}, None),
             ("order", {}, None)],
        )
    assert broker.store.get_events("orders").count() == 0
    assert seen == []
    assert broker.publish_many("orders", [("order", {"amount": 2}, None), ("other", None, None)]) == 2
    assert broker.store.get_events("orders").count() == 2
    assert [e.type for e in seen] == ["order", "other"]


def test_retention_time_and_count(spark):
    """T7: time retention (reference) + max_events (enforced upgrade;
    declared-but-dead in the reference)."""
    import datetime as dt

    from env_event_stream_spark.storage.event_store import make_event

    broker = EventBroker(spark)
    broker.create_topic("t", retention_period=3600, max_events=3)
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    for i in range(6):
        broker.store.save_event(
            make_event("t", "e", timestamp=base + dt.timedelta(minutes=10 * i),
                       event_id=f"ev-{i}")
        )
    # sweep at base+75min, retention 1h → cutoff base+15min: ev-0 (0m)
    # and ev-1 (10m) deleted by time; count cap 3 then drops ev-2.
    deleted = broker.apply_retention("t", now=base + dt.timedelta(minutes=75))
    remaining = broker.store.get_events("t").collect()
    assert len(remaining) == 3
    assert deleted == 3
    ids = [r.id for r in remaining]
    assert ids == ["ev-3", "ev-4", "ev-5"]


def test_dlq_get_events_filtering_and_remove(spark, tmp_path):
    """deadletter_test.ts:82-107 ('should get events with filtering')
    and :162-186 (remove + removing a non-existent id returns false),
    topic filter, type filter, limit, newest-first order, keyed
    removal."""
    e1 = make_event("topic-1", "type-1", "{}", None,
                    timestamp=dt.datetime(2024, 1, 1, 10), event_id="ev-1")
    e2 = make_event("topic-2", "type-2", "{}", None,
                    timestamp=dt.datetime(2024, 1, 1, 11), event_id="ev-2")
    dlq = ParquetDeadLetterQueue(spark, str(tmp_path / "dlq_filter"))
    dlq.add_event(e1, "Test error 1", "handler-1")
    dlq.add_event(e2, "Test error 2", "handler-2")
    by_topic = dlq.get_events(topic="topic-1").collect()
    assert [r.event.id for r in by_topic] == ["ev-1"]
    assert by_topic[0].subscription == "handler-1"
    by_type = dlq.get_events(event_type="type-2").collect()
    assert [r.event.id for r in by_type] == ["ev-2"]
    limited = dlq.get_events(limit=1).collect()
    assert len(limited) == 1
    # newest-first: e2 was ADDED second (its DLQ timestamp is
    # later), so it leads (deadletter.ts:63 sorts on entry ts)
    assert [r.event.id for r in dlq.get_events().collect()] == [
        "ev-2", "ev-1",
    ]
    assert dlq.remove_event("ev-1") is True
    assert dlq.get_events().count() == 1
    assert dlq.remove_event("no-such-id") is False


def test_default_broker_is_a_process_singleton(spark):
    """mod.ts exports `defaultBroker` (src/broker.ts:187) — a
    module-level singleton. The Python counterpart is lazy (a broker
    needs a SparkSession) but identical after first use: same
    instance on every call, shared topics/state."""
    import env_event_stream_spark.streaming.broker as B
    from env_event_stream_spark.streaming import default_broker

    old = B._default_broker
    B._default_broker = None  # isolate from other tests
    try:
        a = default_broker(spark)
        b = default_broker(spark)
        assert a is b
        a.create_topic("singleton-topic")
        assert "singleton-topic" in default_broker(spark).list_topics()
    finally:
        B._default_broker = old


def test_limit_zero_means_no_limit(spark, tmp_path):
    """The reference's falsy-limit contract: the in-memory store's
    `if (options.limit)` treats 0 as absent (src/persistence.ts:63)
    and the DLQ guard is an explicit `limit > 0`
    (src/deadletter.ts:66) — limit=0 must return EVERYTHING, not an
    empty frame, on the event store and the DLQ."""
    store = ParquetEventStore(spark, str(tmp_path / "ev"))
    store.initialize()
    events = [make_event("t", "e", event_id=f"ev-{i}") for i in range(4)]
    store.save_events(events)
    assert store.get_events("t", limit=0).count() == 4
    assert store.get_events("t", limit=2).count() == 2

    dlq = ParquetDeadLetterQueue(spark, str(tmp_path / "dlq"))
    for e in events:
        dlq.add_event(e, "err", "h1")
    assert dlq.get_events(limit=0).count() == 4
    assert dlq.get_events(limit=2).count() == 2


def test_retention_zero_means_keep_forever(spark):
    """src/topic.ts:31-32,40,157-160: retentionPeriod 0 is the
    reference's own DEFAULT and both its guards are strictly > 0 —
    a port passing {retentionPeriod: 0} through must keep everything,
    not mass-delete the topic (cutoff would be 'older than now',
    i.e. ALL events)."""
    import datetime as dt

    from env_event_stream_spark.storage.event_store import make_event

    broker = EventBroker(spark)
    broker.create_topic("t", retention_period=0)
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    for i in range(3):
        broker.store.save_event(
            make_event("t", "e", timestamp=base + dt.timedelta(minutes=i),
                       event_id=f"ev-{i}")
        )
    deleted = broker.apply_retention("t", now=base + dt.timedelta(days=365))
    assert deleted == 0
    assert broker.store.get_events("t").count() == 3


def test_forget_subject_erases_all_surfaces(spark, tmp_path):
    """GDPR right-to-erasure sweep: one subject's events disappear
    from every topic, the DLQ, and a snapshot table — other subjects'
    history is untouched and stays queryable/re-foldable."""
    import pyspark.sql.functions as F

    from env_event_stream_spark.sourcing import forget_key_in_snapshot
    from env_event_stream_spark.storage.event_store import make_event

    broker = EventBroker(spark, path=str(tmp_path / "broker"))
    broker.create_topic("orders")
    broker.create_topic("users")

    def failing(_e):
        raise RuntimeError("boom")

    broker.subscribe(
        "orders", failing,
        SubscriptionOptions(name="f", max_retries=1, retry_delay=0),
    )
    for topic in ("orders", "users"):
        for uid in (7, 8):
            broker.publish(topic, "evt", {"userId": uid, "v": 1})

    assert broker.dlq.get_events().count() == 2  # one per orders publish

    snap = str(tmp_path / "snap")
    spark.createDataFrame(
        [(7, 2, 10.0), (8, 1, 5.0)], "user_id bigint, version bigint, bal double"
    ).write.parquet(snap)

    removed = broker.forget_subject("userId", 7)
    assert removed == {"events": 2, "dlq": 1}
    assert forget_key_in_snapshot(spark, snap, "user_id", 7) == 1

    # subject 7 gone everywhere
    left = broker.store.to_df().collect()
    assert len(left) == 2
    assert all('"userId": 8' in r.payload for r in left)
    dlq_left = broker.dlq.get_events().collect()
    assert len(dlq_left) == 1 and '"userId": 8' in dlq_left[0].event.payload
    snap_left = spark.read.parquet(snap).collect()
    assert [r.user_id for r in snap_left] == [8]

    # idempotent: forgetting again removes nothing
    assert broker.forget_subject("userId", 7) == {"events": 0, "dlq": 0}
    # untouched subject still replayable
    assert broker.store.get_events("users").count() == 1


def test_dlq_soft_and_hard_retry_failures(broker, spark, tmp_path):
    """deadletter_test.ts "should handle failed retries" (callback
    returns false -> attempts+1, error text UNCHANGED) and "should
    handle retry exceptions" (raise -> attempts+1, error REPLACED) —
    the reference's boolean retry-callback contract
    (src/deadletter.ts:78-103)."""
    # manufacture a real DLQ entry through the broker, then replay
    # its event into a DLQ of its own
    broker.subscribe(
        "t",
        lambda e: (_ for _ in ()).throw(RuntimeError("first error")),
        SubscriptionOptions(name="h1", max_retries=0, retry_delay=0),
    )
    broker.publish("t", "x", {})
    event = broker.dlq.get_events().collect()[0].event

    dlq = ParquetDeadLetterQueue(spark, str(tmp_path / "dlq"))
    dlq.add_event(event, "first error", "h1")
    # soft failure: handler returns False — error text kept
    assert dlq.retry_event(event.id, lambda e: False) is False
    entry = dlq.get_events().collect()[0]
    assert entry.attempts == 2
    assert entry.error == "first error"

    # hard failure: handler raises — error text replaced
    def boom(_):
        raise RuntimeError("second error")

    assert dlq.retry_event(event.id, boom) is False
    entry = dlq.get_events().collect()[0]
    assert entry.attempts == 3
    assert entry.error == "second error"
    # success (None-returning handler): entry removed
    assert dlq.retry_event(event.id, lambda e: None) is True
    assert dlq.get_events().count() == 0


def test_dlq_redrive_missing_subscription_is_hard_failure(broker):
    """src/broker.ts:174-177: retrying an event whose subscription no
    longer exists records the failure in the DLQ (error replaced,
    attempts+1) instead of silently returning False."""
    broker.subscribe(
        "t",
        lambda e: (_ for _ in ()).throw(RuntimeError("down")),
        SubscriptionOptions(name="gone", max_retries=0, retry_delay=0),
    )
    broker.publish("t", "x", {})
    entry = broker.dlq.get_events().collect()[0]
    # drop the subscription out from under the entry
    sid = [s for s, v in broker.subscriptions.items() if v.topic == "t"]
    for s in sid:
        del broker.subscriptions[s]
    assert broker.retry_dlq_event(entry.event.id) is False
    after = broker.dlq.get_events().collect()[0]
    assert after.attempts == 2
    assert "not found" in after.error


def test_dlq_redrive_paused_sub_is_gated_noop(broker):
    """Redrive routes through deliver()'s gates (src/broker.ts:178 →
    src/subscription.ts:79-81): a PAUSED subscription is a no-op that
    still resolves as success — the handler is NOT called and the
    entry is removed (deliver returns, callback resolves true)."""
    calls = []

    def handler(e):
        calls.append(e.id)
        raise RuntimeError("down")

    sid = broker.subscribe(
        "t", handler, SubscriptionOptions(name="h1", max_retries=0, retry_delay=0)
    )
    broker.publish("t", "x", {})
    entry = broker.dlq.get_events().collect()[0]
    n_calls = len(calls)
    broker.pause(sid)
    assert broker.retry_dlq_event(entry.event.id) is True
    assert len(calls) == n_calls  # handler never invoked
    assert broker.dlq.get_events().count() == 0  # gated no-op counts as success


def test_dlq_redrive_type_filtered_is_gated_noop(broker):
    """deliver()'s type gate (src/subscription.ts:84-89) also applies
    on redrive: if the subscription's eventTypes no longer admit the
    event's type, redrive is a silent success (entry removed, handler
    not called)."""
    calls = []

    def handler(e):
        calls.append(e.id)
        raise RuntimeError("down")

    sid = broker.subscribe(
        "t",
        handler,
        SubscriptionOptions(
            name="h1", max_retries=0, retry_delay=0, event_types=["x"]
        ),
    )
    broker.publish("t", "x", {})
    entry = broker.dlq.get_events().collect()[0]
    n_calls = len(calls)
    # narrow the filter out from under the dead letter
    broker.subscriptions[sid].options.event_types = ["other"]
    assert broker.retry_dlq_event(entry.event.id) is True
    assert len(calls) == n_calls
    assert broker.dlq.get_events().count() == 0


def test_dlq_redrive_missing_topic_is_hard_failure(broker):
    """src/broker.ts:168-171: redriving an event whose topic no longer
    exists hard-fails ('Topic ... not found'), recorded on the entry
    (attempts+1, error replaced). Orphan the entry by dropping the
    topic meta directly — the reference's deleteTopic leaves DLQ
    entries behind (src/broker.ts:55-57), ours purges them, so this
    is the only way the reference state can arise here."""
    broker.subscribe(
        "t",
        lambda e: (_ for _ in ()).throw(RuntimeError("down")),
        SubscriptionOptions(name="h1", max_retries=0, retry_delay=0),
    )
    broker.publish("t", "x", {})
    entry = broker.dlq.get_events().collect()[0]
    del broker.topics["t"]
    assert broker.retry_dlq_event(entry.event.id) is False
    after = broker.dlq.get_events().collect()[0]
    assert after.attempts == 2
    assert "Topic t not found" in after.error


def test_dlq_add_event_is_keyed_upsert(broker, spark, tmp_path):
    """src/deadletter.ts:14,25-31: entries are a Map keyed by
    event.id — re-adding the same event REPLACES the entry (attempts
    reset to 1, fresh error)."""
    broker.subscribe(
        "t",
        lambda e: (_ for _ in ()).throw(RuntimeError("first error")),
        SubscriptionOptions(name="h1", max_retries=0, retry_delay=0),
    )
    broker.publish("t", "x", {})
    event = broker.dlq.get_events().collect()[0].event

    dlq = ParquetDeadLetterQueue(spark, str(tmp_path / "dlq_upsert"))
    dlq.add_event(event, "first error", "h1")
    # bump attempts so the reset is observable
    assert dlq.retry_event(event.id, lambda e: False) is False
    assert dlq.get_events().collect()[0].attempts == 2
    dlq.add_event(event, "second error", "h1")
    entries = dlq.get_events().collect()
    assert len(entries) == 1  # keyed, not appended
    assert entries[0].attempts == 1  # Map.set resets
    assert entries[0].error == "second error"


def test_create_topic_is_idempotent_keep_first(broker):
    """src/broker.ts:32-35: createTopic on an existing name returns
    the EXISTING topic unchanged — re-creating must not reset a live
    topic's options (a second create with different retention would
    otherwise silently drop the schema registry / retention gate)."""
    first = broker.create_topic("t", max_events=5)
    again = broker.create_topic("t", max_events=999)
    assert again is first
    assert broker.get_topic("t").max_events == 5


def _parquet_files(root: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
            if f.endswith(".parquet")]


def test_broker_without_path_owns_a_private_dir(spark):
    """``EventBroker(spark)`` keeps its events and dead letters in a
    dir of its own, deleted when the broker is garbage-collected."""
    broker = EventBroker(spark)
    path = broker.path

    def failing(_):
        raise RuntimeError("down")

    broker.subscribe("t", failing, SubscriptionOptions(max_retries=1, retry_delay=0))
    broker.publish("t", "e", {"n": 1})
    assert _parquet_files(broker.store.path) and _parquet_files(broker.dlq.path)
    assert {os.path.dirname(broker.store.path), os.path.dirname(broker.dlq.path)} == {path}
    del broker, failing
    gc.collect()
    assert not os.path.exists(path)


def test_brokers_without_path_do_not_share_events(spark):
    a, b = EventBroker(spark), EventBroker(spark)
    assert a.path != b.path

    def failing(_):
        raise RuntimeError("down")

    a.subscribe("t", failing, SubscriptionOptions(max_retries=1, retry_delay=0))
    a.publish("t", "e", {"n": 1})
    assert a.store.get_events("t").count() == a.dlq.get_events().count() == 1
    assert b.store.get_events("t").count() == b.dlq.get_events().count() == 0
    b.publish("t", "e", {"n": 2})
    assert a.store.get_events("t").count() == b.store.get_events("t").count() == 1


def test_subscribe_streaming_without_path_delivers_backlog(broker, tmp_path):
    broker.publish_many("s", [("a", {"i": i}, None) for i in range(3)])
    seen = []
    sid = broker.subscribe_streaming(
        "s", checkpoint=str(tmp_path / "ckpt"), handler=lambda e: seen.append(e.payload),
    )
    broker.subscriptions[sid].query.awaitTermination(60)
    assert sorted(seen) == ['{"i": 0}', '{"i": 1}', '{"i": 2}']
