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

Write sequence: every file of a topic carries an int64 ``_seq`` column
(``SEQ``) beside the event columns, unique in the topic and increasing
in write order, and rewrites keep it. Broker subscriptions track it
instead of file names, so a rewrite (compact, erase, a retention cut
inside a file) delivers no row again. Each topic's head (the largest
``_seq`` handed out) is memoised per process and recovered as the larger
of the footers' max and a marker under ``.seq/`` at the store root,
which removals raise first, so no number is handed out twice. Files
written before the column existed read it as NULL.

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
import threading
import time
import uuid
from collections.abc import Iterable, Sequence
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from env_event_stream_spark.operators.event_queries import get_events as _get_events_df
from env_event_stream_spark.storage.parquet_append import append_rows, partition_dir
from env_event_stream_spark.storage.parquet_read import (
    FileStats,
    file_stats,
    read_rows,
    to_rows,
    visible_files,
)
from env_event_stream_spark.storage.rewrite import (
    WRITE_OPTIONS,
    drop_rows,
    has_parquet,
    recover,
    replace_dir,
)

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

__all__ = ["EVENT_SCHEMA", "SEQ", "make_event", "ParquetEventStore"]

# The write sequence: an int64 column every file of a topic carries
# beside the event columns, unique in the topic and increasing in write
# order. Readers that pass EVENT_SCHEMA never see it.
SEQ = "_seq"
# a topic dir's files as Spark reads them (no ``topic``), sequence kept
_FILE_SCHEMA = T.StructType(
    [f for f in EVENT_SCHEMA if f.name != "topic"] + [T.StructField(SEQ, T.LongType())]
)
# the largest SEQ handed out per topic dir, seeded once from the dir's
# marker and footers. Per process, not per store object: two stores
# opened on one path must not hand out the same numbers. The lock also
# orders each write's numbering and its files becoming visible against
# ``files``, so a listing never sees a later write without an earlier
# one.
_HEADS: dict[str, int] = {}
_HEAD_LOCK = threading.RLock()

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
        self._stats: dict[str, dict[str, FileStats]] = {}  # part dir -> its listed files
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
        """A topic's rows as its partition dir holds them: no ``topic``,
        and ``SEQ`` kept, so a rewrite keeps every row's number."""
        return self.spark.read.schema(_FILE_SCHEMA).parquet(self._part_dir(topic))

    # -- the write sequence ------------------------------------------------

    def _head(self, part_dir: str) -> int:
        """The largest SEQ handed out in ``part_dir`` (0 for none): the
        process memo, seeded from the larger of the dir's marker and its
        footers. Call with ``_HEAD_LOCK`` held."""
        key = os.path.abspath(part_dir)
        head = _HEADS.get(key)
        if head is None:
            his = [f.seq_hi for f in self._files(part_dir) if f.seq_hi is not None]
            head = _HEADS[key] = max([_read_marker(_marker(part_dir)), *his])
        return head

    def _take(self, part_dir: str, n: int) -> int:
        """Hand out ``n`` numbers in ``part_dir``; returns the first."""
        first = self._head(part_dir) + 1
        _HEADS[os.path.abspath(part_dir)] = first + n - 1
        return first

    def _keep_head(self, topic: str) -> None:
        """Before rows of ``topic`` are removed: raise its marker to its
        head. The head is recovered from the footers, so without the
        marker, erasing the newest rows and restarting would hand their
        numbers out again, and a subscription that committed them would
        never deliver the new rows."""
        with _HEAD_LOCK:
            part_dir = self._part_dir(topic)
            head, marker = self._head(part_dir), _marker(part_dir)
            if head > _read_marker(marker):
                _write_marker(marker, head)

    def files(self, topic: str) -> list[FileStats]:
        """``FileStats`` of each visible file of ``topic``, listed under
        ``_HEAD_LOCK``. File names are uuids and files never change, so
        each footer is read once per store."""
        return self._files(self._part_dir(topic))

    def _files(self, part_dir: str) -> list[FileStats]:
        key = os.path.abspath(part_dir)
        with _HEAD_LOCK:
            known = self._stats.get(key, {})
            self._stats[key] = {p: known.get(p) or file_stats(p, SEQ) for p in visible_files(part_dir)}
            return list(self._stats[key].values())

    def read_seq(
        self,
        topic: str,
        files: list[FileStats],
        start: int,
        end: int,
        *,
        nulls: bool = False,
        event_types: Sequence[str] | None = None,
    ) -> DataFrame | None:
        """The rows of ``topic`` with ``start < SEQ <= end`` (and, with
        ``nulls``, those with no SEQ, written before it existed) whose
        type is in ``event_types``, in SEQ order and EVENT_SCHEMA's
        shape; None when no file of ``files`` holds such rows.

        Only the files whose SEQ range overlaps it are read. When
        their uncompressed size fits under the session's
        ``spark.sql.execution.arrow.localRelationThreshold`` they are
        read on the driver and come back as a local relation (no Spark
        job to build it) in one partition, so an aggregate over the
        batch needs no shuffle (a ``count()`` takes one stage, not two);
        larger ranges are a Spark scan of those files, so a big backlog
        stays distributed. A file gone since ``files`` was listed raises
        FileNotFoundError on the driver path."""
        files = [f for f in files if (f.seq_hi is not None and f.seq_hi > start
                                      and f.seq_lo <= end) or (nulls and f.seq_nulls)]
        if not files:
            return None
        size, paths = sum(f.size for f in files), [f.path for f in files]
        limit = self.spark._jsparkSession.sessionState().conf().arrowLocalRelationThreshold()
        if size <= limit:
            seq = pc.field(SEQ)
            where = (seq > start) & (seq <= end)
            if nulls:
                where |= seq.is_null()
            if event_types is not None:
                where &= _type_in(event_types)
            rows = read_rows(_SEQ_SCHEMA, paths, where, [(SEQ, "ascending")]).drop_columns(SEQ)
            rows = rows.set_column(rows.schema.get_field_index("topic"), "topic",
                                   pa.array([topic] * rows.num_rows, pa.string()))
            return self.spark.createDataFrame(rows, _SCAN_SCHEMA).coalesce(1)
        seq = F.col(SEQ)
        where = (seq > start) & (seq <= end)
        if nulls:
            where |= seq.isNull()
        if event_types is not None:
            where &= F.col("type").isin(list(event_types))
        df = (self.spark.read.schema(_FILE_SCHEMA)
              .option("basePath", self._part_dir(topic)).parquet(*paths))
        return (df.where(where).orderBy(SEQ).withColumn("topic", F.lit(topic))
                .select(*EVENT_SCHEMA.fieldNames()))

    def count_seq_after(self, files: list[FileStats], after: int, *, nulls: bool) -> int:
        """Rows of ``files`` with SEQ above ``after`` (and, with
        ``nulls``, rows with none), counted from their stats; only a
        file whose SEQ range straddles ``after`` has its SEQ read."""
        n = 0
        for f in files:
            n += f.seq_nulls if nulls else 0
            if f.seq_hi is None or f.seq_hi <= after:
                continue
            if f.seq_lo > after:
                n += f.rows - f.seq_nulls
                continue
            try:
                n += read_rows(_SEQ_ONLY, [f.path], pc.field(SEQ) > after).num_rows
            except FileNotFoundError:
                continue  # removed since it was listed
        return n

    def save_events(self, events: Sequence[Row] | DataFrame) -> int:
        """Append events. A list is written by the driver, one file per
        topic, numbered on from each topic's head. A DataFrame is
        written by Spark with ``SEQ = base + monotonically_increasing_id()
        + 1``, ``base`` the largest head of any topic in the store, so
        its numbers are new in every topic it writes; the new files'
        footers give the new heads."""
        if isinstance(events, DataFrame):
            with _HEAD_LOCK:
                base = max([self._head(d) for d in self._topic_dirs()], default=0)
                n = events.count()
                seq = F.lit(base + 1).cast("long") + F.monotonically_increasing_id()
                events.withColumn(SEQ, seq).write.mode("append").options(**WRITE_OPTIONS) \
                    .partitionBy("topic").parquet(self.path)
                for d in self._topic_dirs():
                    _HEADS.pop(os.path.abspath(d), None)
            return n
        with _HEAD_LOCK:
            append_rows(self.spark, EVENT_SCHEMA, events, self.path, partition_by="topic",
                        seq=(SEQ, self._take))
        return len(events)

    def _topic_dirs(self) -> list[str]:
        """Every topic dir of the store, and the dir of every topic that
        has only a marker left (its rows were all removed)."""
        names = set(_listdir(self.path)) | set(_listdir(os.path.join(self.path, _MARKERS)))
        return [os.path.join(self.path, n) for n in names if not n.startswith((".", "_"))]

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
        rows: bool = False,
    ) -> DataFrame | Iterable[Row]:
        """A topic's events from ``from_ts`` to ``to_ts`` (inclusive)
        whose type is in ``event_types``, in ``(timestamp, id)`` order,
        the first ``limit`` of them; with ``rows``, the Rows ``collect()``
        gives for them instead of a DataFrame.

        A bounded read (``limit > 0``) ends on the driver with at most
        ``limit`` rows, so it is read there: the partition's files are
        scanned by ``read_rows`` with the filters pushed down (files
        whose ``FileStats`` range misses the window are not read), and the top
        rows come back as a local DataFrame, which ``collect()`` and
        ``take()`` answer without a Spark job, or with ``rows`` as a
        list of Rows built on the driver (``to_rows``), with no JVM
        round trip at all. An unbounded read (``limit`` None or <= 0,
        which means everything) stays a Spark scan, so a whole topic
        never has to fit in driver memory; with ``rows`` it is iterated
        with ``toLocalIterator``. The bounds compare as Spark compares
        them: a datetime by F.lit's rule, anything else (an ISO string,
        a date) cast to a timestamp in the session time zone."""
        if limit is None or limit <= 0:
            df = _get_events_df(
                self.to_df(), topic=topic, ts_col="timestamp", type_col="type",
                tiebreak_col="id", from_ts=from_ts, to_ts=to_ts, event_types=event_types,
            )
            return df.toLocalIterator() if rows else df
        ts, utc = pc.field("timestamp"), pa.timestamp("us", "UTC")
        files, where = self.files(topic), pc.scalar(True)
        if from_ts is not None:
            lo = _micros(self.spark, from_ts)
            where &= ts >= pa.scalar(lo, utc)
            files = [f for f in files if lo is not None and f.hi is not None and f.hi >= lo]
        if to_ts is not None:
            hi = _micros(self.spark, to_ts)
            where &= ts <= pa.scalar(hi, utc)
            files = [f for f in files if hi is not None and f.lo is not None and f.lo <= hi]
        if event_types is not None:
            where &= _type_in(event_types)
        top = read_rows(EVENT_SCHEMA, [f.path for f in files], where,
                        [("timestamp", "ascending"), ("id", "ascending")], limit)
        top = top.set_column(top.schema.get_field_index("topic"), "topic",
                             pa.array([topic] * top.num_rows, pa.string()))
        return to_rows(_SCAN_SCHEMA, top) if rows else self.spark.createDataFrame(top, _SCAN_SCHEMA)

    def compact(self, topic: str, target_files: int = 1) -> int:
        """Rewrite a topic partition into ``target_files`` files.

        High-frequency single-event publishes accumulate one file per
        append — the same small-files pathology as the reference's
        one-JSON-per-event store (src/persistence.ts:141-145), which
        at 100 TB destroys scan throughput (footer reads dominate).
        Run periodically alongside retention. Returns files removed.
        The rows keep their SEQ, so a subscription, which tracks SEQ and
        not file names, delivers none of them again."""
        part_dir = self._part_dir(topic)
        before = len(visible_files(part_dir))
        if before <= target_files:
            return 0
        replace_dir(self._partition(topic).coalesce(target_files), part_dir)
        return before - len(visible_files(part_dir))

    def delete_topic(self, topic: str) -> int:
        """Drop a topic's whole partition directory — O(1) metadata
        delete, no scan of other topics (reference src/broker.ts:55-57
        only forgets the Topic object; dropping its stored rows is the
        documented upgrade). Rows are counted from the file footers. The
        topic's head marker stays, so a topic of the same name numbers
        on past it."""
        part_dir = self._part_dir(topic)
        if not os.path.isdir(part_dir):
            return 0
        n = sum(f.rows for f in self.files(topic))
        self._keep_head(topic)
        shutil.rmtree(part_dir)
        return n

    def delete_matching(self, topic: str, predicate) -> int:
        """Erase rows of a topic matching a Column predicate over the
        event columns but ``topic`` — a partition-local rewrite, the
        right-to-erasure primitive. NULL keeps the row (``drop_rows``).
        The kept rows keep their SEQ, so a subscription delivers none of
        them again."""
        part_dir = self._part_dir(topic)
        if not os.path.isdir(part_dir):
            return 0
        self._keep_head(topic)
        return drop_rows(self._partition(topic), part_dir, predicate)

    def delete_events(self, topic: str, before_ts, *, before_id: str | None = None) -> int:
        """Retention: drop a topic's rows before ``before_ts`` or, with
        ``before_id``, before ``(before_ts, before_id)`` in (timestamp,
        id) order, so a count cut is exact when timestamps tie.

        Planned from the partition's files, without a Spark job: a file
        wholly before the cut is unlinked, ``.crc`` first, so a sweep cut
        short leaves no orphan sidecar and the next sweep finishes it;
        a file wholly after it keeps its name. Only when a file holds
        rows on both sides is the partition rewritten (``drop_rows``),
        and its kept rows keep their SEQ. The bound compares as in
        ``get_events`` (``_micros``): a datetime by F.lit's rule, anything
        else (an ISO string, a date) cast in the session time zone; one
        that casts to NULL deletes nothing."""
        cut = _micros(self.spark, before_ts)
        if cut is None:
            return 0
        doomed = []
        for f in self.files(topic):
            if f.lo is None or f.lo > cut:
                continue
            if f.hi < cut:
                doomed.append(f)
                continue
            older = read_rows(_KEYS, [f.path], _older(cut, before_id)).num_rows
            if older == f.rows:
                doomed.append(f)
            elif older:  # the cut falls inside this file
                ts, lit = F.col("timestamp"), F.lit(before_ts)
                pred = ts < lit
                if before_id is not None:
                    pred = pred | ((ts == lit) & (F.col("id") < F.lit(before_id)))
                return self.delete_matching(topic, pred)
        if doomed:
            self._keep_head(topic)
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
        files = [f for f in self.files(topic) if f.lo is not None]
        if sum(f.rows for f in files) <= keep:
            return None
        # at least ``keep`` rows have ts >= lo; fewer than ``keep`` have ts > hi
        lo, hi = _kth_bound(files, "lo", keep), _kth_bound(files, "hi", keep)
        newer = sum(f.rows for f in files if f.lo > hi)
        keys = read_rows(_KEYS, [f.path for f in files if f.lo <= hi and f.hi >= lo],
                         order=[("timestamp", "descending"), ("id", "descending")])
        row = keys.slice(keep - newer - 1, 1).to_pylist()[0]
        return row["timestamp"], row["id"]


# EVENT_SCHEMA as a parquet scan reports it: every field nullable
_SCAN_SCHEMA = T.StructType([T.StructField(f.name, f.dataType) for f in EVENT_SCHEMA])
_SEQ_SCHEMA = T.StructType([*EVENT_SCHEMA, T.StructField(SEQ, T.LongType())])
_SEQ_ONLY = T.StructType([T.StructField(SEQ, T.LongType())])
_KEYS = T.StructType([EVENT_SCHEMA["timestamp"], EVENT_SCHEMA["id"]])

# Head markers live in one hidden dir at the store root, outside the
# topic dirs that ``replace_dir`` swaps whole; one file per topic dir.
_MARKERS = ".seq"


def _marker(part_dir: str) -> str:
    root, name = os.path.split(os.path.normpath(part_dir))
    return os.path.join(root, _MARKERS, name)


def _read_marker(path: str) -> int:
    try:
        with open(path) as f:
            return int(f.read())
    except FileNotFoundError:
        return 0


def _write_marker(path: str, head: int) -> None:
    """Replace the marker at ``path`` at once (tmp + rename)."""
    directory, name = os.path.split(path)
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write(str(head))
    os.replace(tmp, path)


def _listdir(path: str) -> list[str]:
    return os.listdir(path) if os.path.isdir(path) else []


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


def _kth_bound(files: list[FileStats], attr: str, k: int) -> int:
    """``attr`` of the file at which the row count, files taken by
    ``attr`` descending, first reaches ``k`` (the files hold more)."""
    n = 0
    for f in sorted(files, key=lambda f: getattr(f, attr), reverse=True):
        n += f.rows
        if n >= k:
            return getattr(f, attr)


def _type_in(event_types: Sequence[str]) -> pc.Expression:
    """``type IN event_types`` as Spark reads the IN-list: a NULL in
    it matches no row."""
    return pc.field("type").isin(pa.array([t for t in event_types if t is not None], pa.string()))


def _older(cut: int, before_id: str | None) -> pc.Expression:
    """Rows before ``(cut, before_id)``, as the Spark predicate in
    ``delete_events`` takes them (a NULL keeps the row)."""
    ts, at = pc.field("timestamp"), pa.scalar(cut, pa.timestamp("us", "UTC"))
    older = ts < at
    if before_id is not None:
        older |= (ts == at) & (pc.field("id") < before_id)
    return older
