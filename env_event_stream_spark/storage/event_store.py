"""Event stores: the table behind every topic.

Reference parity (SURVEY.md §2.1):
- ``save_event``/``save_events`` = InMemory/File/Postgres ``saveEvent``
  (reference src/persistence.ts:14-23, :141-145, :299-322). Two
  writers: rows already in driver memory (a publish, a
  ``publish_many`` batch) are appended by the driver itself, one
  parquet file per topic per call and no Spark job
  (storage/parquet_append.py); a DataFrame (a bulk load) goes through
  Spark's partitioned writer. The reference appends one event at a
  time; a batch here is one file per topic.
- ``get_events``            = ``getEvents``  (src/persistence.ts:28-69)
- ``delete_events``         = ``deleteEvents`` retention
  (src/persistence.ts:74-93) — implemented as partition-pruned rewrite
  (anti-filter) since plain parquet has no row-level delete. Every
  rewrite swaps the partition dir crash-safely (storage/rewrite.py)
  and opening the store recovers a cut-short swap, so a crash never
  loses a topic, as the reference's transactional ``DELETE`` never
  does (src/persistence.ts:407-425).

Canonical Event schema (reference src/types.ts:4-39; FIXTURES.md §A1):
``id, type, topic, timestamp, schemaVersion, payload(JSON string),
metadata(map<string,string>)``. Payload stays a JSON string —
schema-on-read via from_json per event type (SURVEY.md §1.4).

Scale: partitioned by ``topic`` (the reference's per-topic arrays/dirs/
indexes are all this layout, src/persistence.ts:9,126,283-288); topic
equality prunes partitions; ts predicates hit parquet row-group stats.
At 100 TB add a date bucket column (``p_date = date(timestamp)``) as a
second partition level so retention drops whole partitions.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from env_event_stream_spark.operators.event_queries import get_events as _get_events_df
from env_event_stream_spark.storage.parquet_append import append_rows, partition_dir
from env_event_stream_spark.storage.rewrite import drop_rows, has_parquet, recover, replace_dir

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("topic", T.StringType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("schemaVersion", T.StringType(), True),
        T.StructField("payload", T.StringType(), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

__all__ = ["EVENT_SCHEMA", "make_event", "InMemoryEventStore", "ParquetEventStore"]

_counter = 0


def generate_id() -> str:
    """Unique event id. Reference format is
    ``<ts base36>-<11 hex>-<6-digit counter>`` (src/utils.ts:13-40);
    we keep the sortable-ts prefix + uuid entropy + process counter."""
    global _counter
    _counter += 1
    ts36 = _base36(int(time.time() * 1000))
    return f"{ts36}-{uuid.uuid4().hex[:11]}-{_counter % 1_000_000:06d}"


def _base36(n: int) -> str:
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    out = ""
    while n:
        n, r = divmod(n, 36)
        out = digits[r] + out
    return out or "0"


def make_event(
    topic: str,
    event_type: str,
    payload: str | None = None,
    metadata: dict[str, str] | None = None,
    *,
    timestamp: Any = None,
    schema_version: str = "1.0",
    event_id: str | None = None,
) -> Row:
    """Construct an Event row exactly as broker.publish does
    (reference src/broker.ts:100-108): generated id, now() timestamp,
    schemaVersion default "1.0"."""
    import datetime as _dt

    return Row(
        id=event_id or generate_id(),
        type=event_type,
        topic=topic,
        timestamp=timestamp or _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None),
        schemaVersion=schema_version,
        payload=payload,
        metadata=metadata,
    )


class InMemoryEventStore:
    """Test/dev backend (reference src/persistence.ts:8-94): events in
    a per-process list, queried by converting to a DataFrame on read.
    Keeps the same semantics; only suitable for small data."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._rows: list[Row] = []

    def save_event(self, event: Row) -> None:
        self._rows.append(event)

    def save_events(self, events: Sequence[Row]) -> None:
        self._rows.extend(events)

    def to_df(self) -> DataFrame:
        return self.spark.createDataFrame(self._rows or [], schema=EVENT_SCHEMA)

    def get_events(self, topic: str, **kwargs) -> DataFrame:
        return _get_events_df(
            self.to_df(), topic=topic, ts_col="timestamp", type_col="type",
            tiebreak_col="id", **kwargs,
        )

    def delete_events(self, topic: str, before_ts, *, before_id: str | None = None) -> int:
        import datetime as _dt

        if isinstance(before_ts, str):
            before_ts = _dt.datetime.fromisoformat(before_ts)
        cut = (before_ts, before_id or "")  # no id: every row at before_ts stays
        n0 = len(self._rows)
        self._rows = [
            r for r in self._rows if not (r.topic == topic and (r.timestamp, r.id) < cut)
        ]
        return n0 - len(self._rows)

    def delete_topic(self, topic: str) -> int:
        """Drop every event of a topic (broker deleteTopic,
        reference src/broker.ts:55-57). Returns rows removed."""
        n0 = len(self._rows)
        self._rows = [r for r in self._rows if r.topic != topic]
        return n0 - len(self._rows)

    def delete_matching(self, topic: str, predicate) -> int:
        """Erase rows of a topic matching a Column predicate (the
        right-to-erasure primitive; see ParquetEventStore twin)."""
        if not self._rows:
            return 0
        doomed = {
            r.id
            for r in self.to_df()
            .where(F.col("topic") == topic)
            .where(predicate)
            .select("id")
            .collect()
        }
        n0 = len(self._rows)
        self._rows = [
            r for r in self._rows
            if not (r.topic == topic and r.id in doomed)
        ]
        return n0 - len(self._rows)


class ParquetEventStore:
    """System-of-record backend: parquet partitioned by topic.

    Append has two writers. Rows held by the driver (``save_event``,
    a list to ``save_events``) are written by the driver: one file per
    topic per call, no Spark job (``append_rows``). A DataFrame goes
    through Spark's partitioned writer. Both give the same layout,
    values and ``.crc`` sidecars. Scan = pruned parquet read;
    retention delete = partition-local rewrite keeping ``ts >= cutoff``
    (the parquet analog of the Postgres ``DELETE WHERE topic=$1 AND
    timestamp<$2``, reference src/persistence.ts:407-425). Rewrites
    swap the partition dir via ``replace_dir`` (``.topic=x.tmp`` in,
    ``.topic=x.old`` aside); the constructor's ``recover`` rolls a
    crashed swap back, so reads see old or new rows, never none."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        recover(path)

    def initialize(self) -> None:
        """DDL bootstrap (reference src/persistence.ts:260-294): create
        the table directory, so a stream over it can start before the
        first event. Indexes have no parquet analog — partitioning +
        min/max stats play that role."""
        os.makedirs(self.path, exist_ok=True)

    def _part_dir(self, topic: str) -> str:
        return os.path.join(self.path, partition_dir(self.spark, "topic", topic))

    def _partition(self, topic: str) -> DataFrame:
        """A topic's rows as its partition dir holds them (no topic)."""
        return self.to_df().where(F.col("topic") == topic).drop("topic")

    def save_events(self, events: Sequence[Row] | DataFrame) -> int:
        if isinstance(events, DataFrame):
            n = events.count()
            events.write.mode("append").partitionBy("topic").parquet(self.path)
            return n
        append_rows(self.spark, EVENT_SCHEMA, events, self.path, partition_by="topic")
        return len(events)

    def save_event(self, event: Row) -> None:
        self.save_events([event])

    def to_df(self) -> DataFrame:
        if not has_parquet(self.path):
            return self.spark.createDataFrame([], schema=EVENT_SCHEMA)
        # partitioned reads append the partition column last; re-select
        # to the canonical field order so collected Rows align with
        # EVENT_SCHEMA everywhere downstream (DLQ nesting relies on it)
        return (
            self.spark.read.schema(EVENT_SCHEMA)
            .option("basePath", self.path)
            .parquet(self.path)
            .select(*EVENT_SCHEMA.fieldNames())
        )

    def get_events(self, topic: str, **kwargs) -> DataFrame:
        return _get_events_df(
            self.to_df(), topic=topic, ts_col="timestamp", type_col="type",
            tiebreak_col="id", **kwargs,
        )

    def compact(self, topic: str, target_files: int = 1) -> int:
        """Rewrite a topic partition into ``target_files`` files.

        High-frequency single-event publishes accumulate one file per
        append — the same small-files pathology as the reference's
        one-JSON-per-event store (src/persistence.ts:141-145), which
        at 100 TB destroys scan throughput (footer reads dominate).
        Run periodically alongside retention. Returns files removed.
        Like retention and erase, it gives the kept rows new file
        names, so a streaming subscription delivers them again (5
        events, 10 deliveries after one ``compact``)."""
        part_dir = self._part_dir(topic)
        if not os.path.isdir(part_dir):
            return 0
        before = sum(1 for f in os.listdir(part_dir) if f.endswith(".parquet"))
        if before <= target_files:
            return 0
        replace_dir(self._partition(topic).coalesce(target_files), part_dir)
        after = sum(1 for f in os.listdir(part_dir) if f.endswith(".parquet"))
        return before - after

    def delete_topic(self, topic: str) -> int:
        """Drop a topic's whole partition directory — O(1) metadata
        delete, no scan of other topics (reference src/broker.ts:55-57
        only forgets the Topic object; dropping its stored rows is the
        documented upgrade)."""
        part_dir = self._part_dir(topic)
        if not os.path.isdir(part_dir):
            return 0
        n = self.to_df().where(F.col("topic") == topic).count()
        shutil.rmtree(part_dir)
        return n

    def delete_matching(self, topic: str, predicate) -> int:
        """Erase rows of a topic matching a Column predicate over the
        event columns but ``topic`` — a partition-local rewrite, the
        right-to-erasure primitive. NULL keeps the row (``drop_rows``)."""
        part_dir = self._part_dir(topic)
        if not os.path.isdir(part_dir):
            return 0
        return drop_rows(self._partition(topic), part_dir, predicate)

    def delete_events(self, topic: str, before_ts, *, before_id: str | None = None) -> int:
        """Retention: drop a topic's rows before ``before_ts`` or, with
        ``before_id``, before ``(before_ts, before_id)`` in (timestamp,
        id) order, so a count cut is exact when timestamps tie."""
        ts, cut = F.col("timestamp"), F.lit(before_ts)
        older = ts < cut
        if before_id is not None:
            older = older | ((ts == cut) & (F.col("id") < F.lit(before_id)))
        return self.delete_matching(topic, older)
