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
- ``get_events``            = ``getEvents``  (src/persistence.ts:28-69).
  A bounded read (``limit > 0``) is answered from the topic's files
  on the driver (no Spark job); an unbounded one is a Spark scan, so
  a full replay never has to fit in driver memory.
- ``delete_events``         = ``deleteEvents`` retention
  (src/persistence.ts:74-93). Plain parquet has no row-level delete,
  so a sweep is planned from the topic's files: files wholly before
  the cut are unlinked (no Spark job), kept files keep their names,
  and only a cut that falls inside a file rewrites the partition
  (anti-filter). A rewrite swaps the partition dir crash-safely
  (storage/rewrite.py) and opening the store recovers a cut-short
  swap, so a crash never loses a topic, as the reference's
  transactional ``DELETE`` never does (src/persistence.ts:407-425).

Canonical Event schema (reference src/types.ts:4-39; FIXTURES.md §A1):
``id, type, topic, timestamp, schemaVersion, payload(JSON string),
metadata(map<string,string>)``. Payload stays a JSON string —
schema-on-read via from_json per event type (SURVEY.md §1.4).

Scale: partitioned by ``topic`` (the reference's per-topic arrays/dirs/
indexes are all this layout, src/persistence.ts:9,126,283-288); topic
equality prunes partitions; ts predicates hit parquet row-group stats;
retention drops whole files. At 100 TB add a date bucket column
(``p_date = date(timestamp)``) as a second partition level so
retention drops whole partitions.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil
import time
import uuid
from collections.abc import Sequence
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from env_event_stream_spark.operators.event_queries import get_events as _get_events_df
from env_event_stream_spark.storage.parquet_append import append_rows, partition_dir
from env_event_stream_spark.storage.parquet_read import (
    FileKeys,
    file_keys,
    read_keys,
    read_top_k,
    visible_files,
)
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

__all__ = ["EVENT_SCHEMA", "make_event", "ParquetEventStore"]

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
    return Row(
        id=event_id or generate_id(),
        type=event_type,
        topic=topic,
        timestamp=timestamp or _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None),
        schemaVersion=schema_version,
        payload=payload,
        metadata=metadata,
    )


class ParquetEventStore:
    """System-of-record backend: parquet partitioned by topic.

    Append has two writers. Rows held by the driver (``save_event``,
    a list to ``save_events``) are written by the driver: one file per
    topic per call, no Spark job (``append_rows``). A DataFrame goes
    through Spark's partitioned writer. Both give the same layout,
    values and ``.crc`` sidecars. Scan: a read with ``limit > 0`` is
    a driver-side top-``limit`` over the partition's files, any other
    a pruned Spark parquet read. Retention delete = the parquet analog
    of the Postgres ``DELETE WHERE topic=$1 AND timestamp<$2`` (reference
    src/persistence.ts:407-425), planned on the driver from the
    partition's files: whole files before the cut are unlinked, and a
    partition-local rewrite keeping ``ts >= cutoff`` runs only when the
    cut falls inside a file. Rewrites swap the partition dir via
    ``replace_dir`` (``.topic=x.tmp`` in, ``.topic=x.old`` aside); the
    constructor's ``recover`` rolls a crashed swap back, so reads see
    old or new rows, never none."""

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

    def get_events(
        self,
        topic: str,
        *,
        from_ts=None,
        to_ts=None,
        event_types: Sequence[str] | None = None,
        limit: int | None = None,
    ) -> DataFrame:
        """A topic's events from ``from_ts`` to ``to_ts`` (inclusive)
        whose type is in ``event_types``, in ``(timestamp, id)`` order,
        the first ``limit`` of them.

        A bounded read (``limit > 0``) ends on the driver with at most
        ``limit`` rows, so it is read there: the partition's files are
        scanned by ``read_top_k`` with the filters pushed down, and the
        rows come back as a local DataFrame, which ``collect()`` and
        ``take()`` answer without a Spark job. An unbounded read
        (``limit`` None or <= 0, which means everything) stays a Spark
        scan, so a whole topic never has to fit in driver memory. The
        bounds compare as Spark compares them: a datetime by F.lit's
        rule, anything else (an ISO string, a date) cast to a timestamp
        in the session time zone."""
        if limit is None or limit <= 0:
            return _get_events_df(
                self.to_df(), topic=topic, ts_col="timestamp", type_col="type",
                tiebreak_col="id", from_ts=from_ts, to_ts=to_ts, event_types=event_types,
            )
        ts, utc = pc.field("timestamp"), pa.timestamp("us", "UTC")
        where = pc.scalar(True)
        if from_ts is not None:
            where &= ts >= pa.scalar(_micros(self.spark, from_ts), utc)
        if to_ts is not None:
            where &= ts <= pa.scalar(_micros(self.spark, to_ts), utc)
        if event_types is not None:
            # a NULL in Spark's IN-list matches no row
            wanted = pa.array([t for t in event_types if t is not None], pa.string())
            where &= pc.field("type").isin(wanted)
        top = read_top_k(EVENT_SCHEMA, self._part_dir(topic), where, ["timestamp", "id"], limit)
        top = top.set_column(top.schema.get_field_index("topic"), "topic",
                             pa.array([topic] * top.num_rows, pa.string()))
        return self.spark.createDataFrame(top, _SCAN_SCHEMA)

    def compact(self, topic: str, target_files: int = 1) -> int:
        """Rewrite a topic partition into ``target_files`` files.

        High-frequency single-event publishes accumulate one file per
        append — the same small-files pathology as the reference's
        one-JSON-per-event store (src/persistence.ts:141-145), which
        at 100 TB destroys scan throughput (footer reads dominate).
        Run periodically alongside retention. Returns files removed.
        Like erase and a retention cut inside a file, it gives the kept
        rows new file names, so a streaming subscription delivers them
        again (5 events, 10 deliveries after one ``compact``); a
        retention sweep that drops whole files does not."""
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
        documented upgrade). Rows are counted from the file footers."""
        part_dir = self._part_dir(topic)
        if not os.path.isdir(part_dir):
            return 0
        n = sum(pq.read_metadata(f).num_rows for f in visible_files(part_dir))
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
        id) order, so a count cut is exact when timestamps tie.

        Planned from the partition's files, without a Spark job: a file
        wholly before the cut is unlinked, ``.crc`` first, so a sweep cut
        short leaves no orphan sidecar and the next sweep finishes it;
        a file wholly after it keeps its name, so streaming
        subscriptions do not see its rows again. Only when a file holds
        rows on both sides is the partition rewritten (``drop_rows``).
        An ISO string is read by ``datetime.fromisoformat``."""
        if isinstance(before_ts, str):
            before_ts = _dt.datetime.fromisoformat(before_ts)
        cut = T.TimestampType().toInternal(before_ts)  # the rule F.lit applies
        doomed = []
        for f in file_keys(self._part_dir(topic)):
            if f.lo > cut:
                continue
            if f.hi < cut:
                doomed.append(f)
                continue
            older = _count_older(read_keys(f), cut, before_id)
            if older == f.rows:
                doomed.append(f)
            elif older:  # the cut falls inside this file
                ts, lit = F.col("timestamp"), F.lit(before_ts)
                pred = ts < lit
                if before_id is not None:
                    pred = pred | ((ts == lit) & (F.col("id") < F.lit(before_id)))
                return self.delete_matching(topic, pred)
        for f in doomed:
            directory, name = os.path.split(f.path)
            crc = os.path.join(directory, f".{name}.crc")
            if os.path.exists(crc):
                os.unlink(crc)
            os.unlink(f.path)
        return sum(f.rows for f in doomed)

    def retention_cut(self, topic: str, keep: int) -> tuple[_dt.datetime, str] | None:
        """``(timestamp, id)`` of the ``keep``-th newest row of a topic
        in (timestamp, id) order, or None when it holds ``keep`` rows or
        fewer. Footer row counts bound the cut's timestamp; only the
        files that can hold it have their two columns read, and no
        Spark job runs. The timestamp is an aware UTC datetime, so it
        converts back to the same instant in any host zone."""
        files = file_keys(self._part_dir(topic))
        if sum(f.rows for f in files) <= keep:
            return None
        # at least ``keep`` rows have ts >= lo; fewer than ``keep`` have ts > hi
        lo, hi = _kth_bound(files, "lo", keep), _kth_bound(files, "hi", keep)
        newer = sum(f.rows for f in files if f.lo > hi)
        keys = pa.concat_tables(read_keys(f) for f in files if f.lo <= hi and f.hi >= lo)
        order = keys.sort_by([("timestamp", "descending"), ("id", "descending")])
        row = order.slice(keep - newer - 1, 1).to_pylist()[0]
        return _EPOCH + _dt.timedelta(microseconds=row["timestamp"]), row["id"]


_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)

# EVENT_SCHEMA as a parquet scan reports it: every field nullable
_SCAN_SCHEMA = T.StructType([T.StructField(f.name, f.dataType) for f in EVENT_SCHEMA])


def _micros(spark: SparkSession, bound: Any) -> int | None:
    """``bound`` in μs since the epoch, as ``F.col("timestamp") >=
    F.lit(bound)`` compares it: a datetime converted by F.lit's rule (a
    naive one in the host's zone), anything else cast by Spark in the
    session zone (None where the cast gives NULL). The cast runs over a
    one-row local relation, so it is folded on the driver: no job."""
    if isinstance(bound, _dt.datetime):
        return T.TimestampType().toInternal(bound)
    one = spark.sql("VALUES (1)")
    return one.select(F.unix_micros(F.lit(bound).cast("timestamp"))).collect()[0][0]


def _kth_bound(files: list[FileKeys], attr: str, k: int) -> int:
    """``attr`` of the file at which the row count, files taken by
    ``attr`` descending, first reaches ``k`` (the files hold more)."""
    n = 0
    for f in sorted(files, key=lambda f: getattr(f, attr), reverse=True):
        n += f.rows
        if n >= k:
            return getattr(f, attr)


def _count_older(keys: pa.Table, cut: int, before_id: str | None) -> int:
    """Rows of ``keys`` before ``(cut, before_id)``, NULL kept, as the
    Spark predicate in ``delete_events`` counts them."""
    ts = keys.column("timestamp")
    older = pc.less(ts, cut)
    if before_id is not None:
        tie = pc.and_kleene(pc.equal(ts, cut), pc.less(keys.column("id"), before_id))
        older = pc.or_kleene(older, tie)
    return pc.sum(older.fill_null(False).cast(pa.int64())).as_py() or 0
