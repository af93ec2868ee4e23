"""Storage backends: the system-of-record event table and the DLQ.

The reference ships three row-oriented backends (in-memory / one JSON
file per event / Postgres — reference src/persistence.ts:8,100,240).
Here the system of record is one columnar Parquet table partitioned by
topic, with a Parquet dead-letter queue beside it; a broker with no
path keeps both in a private temp dir, which is what the reference's
in-memory backends map onto. A JSON-dir source reads the reference's
file layout, and a JDBC-gated store mirrors the Postgres one.
"""

from env_event_stream_spark.storage.event_store import (  # noqa: F401
    EVENT_SCHEMA,
    ParquetEventStore,
)
from env_event_stream_spark.storage.dlq_store import (  # noqa: F401
    DLQ_SCHEMA,
    ParquetDeadLetterQueue,
)
