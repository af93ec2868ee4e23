"""Driver-side reads (storage/parquet_read.py) and the broker paths on
them: DLQ redrive lookup, retention planned from the files,
``delete_topic``'s count, and bounded ``get_events`` (a limited replay,
the aggregate ``exists`` probe).

Each answer is pinned against what Spark gives for the same files, in
several host time zones, over files with INT64 timestamps and footer
statistics (the driver's, and Spark's under ``get_spark``) and legacy
INT96 files (written here under a scoped ``outputTimestampType``); the
driver paths are pinned to start no Spark job, and a limited replay to
make no JVM call at all.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest
from conftest import JobBudget
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from env_event_stream_spark.aggregates import RepositoryFactory
from env_event_stream_spark.storage import event_store, parquet_read
from env_event_stream_spark.storage.dlq_store import ParquetDeadLetterQueue
from env_event_stream_spark.storage.event_store import (
    EVENT_SCHEMA,
    SEQ,
    ParquetEventStore,
    make_event,
)
from env_event_stream_spark.storage.parquet_read import visible_files
from env_event_stream_spark.streaming.broker import EventBroker, SubscriptionOptions

TZS = ["UTC", "America/New_York", "Asia/Tokyo"]
T0 = dt.datetime(2024, 1, 15, 12, 0, 0, 250000)


def _event(i: int, **kw):
    kw.setdefault("timestamp", T0 + dt.timedelta(seconds=i))
    return make_event("t", kw.pop("type", "e"), kw.pop("payload", '{"i": %d}' % i),
                      kw.pop("metadata", {"k": "v"}), event_id=f"e{i}", **kw)


def _timestamp_type(path: str) -> str:
    schema = pq.ParquetFile(path).schema
    return next(schema.column(i).physical_type for i in range(len(schema))
                if schema.column(i).path == "timestamp")


@contextlib.contextmanager
def _int96(spark):
    """Spark writes INT96 timestamps inside the block, as a session not
    built by ``get_spark`` (or one from before it set INT64) does."""
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _collected(dlq, event_id):
    rows = dlq.to_df().where(F.col("event.id") == event_id).collect()
    assert len(rows) <= 1
    return rows[0] if rows else None


@pytest.mark.parametrize("host_tz", TZS, indirect=True)
def test_dlq_get_entry_matches_spark_collect(spark, tmp_path, host_tz):
    """``get_entry`` returns the Row ``to_df().collect()`` gives: on
    driver-written files, after ``compact`` rewrote them with Spark
    (INT96, the legacy layout), and with a driver append on top of
    that."""
    dlq = ParquetDeadLetterQueue(spark, str(tmp_path / "dlq"))
    t = dt.datetime(2024, 3, 10, 6, 59, 59, 123456)
    e0, e1, e2 = _event(0), _event(1, payload=None, metadata=None), _event(2)
    dlq._append([(tuple(e0), "first", "s", t, 1)])
    dlq._append([(tuple(e0), "tie", "s2", t + dt.timedelta(seconds=1), 3),
                 (tuple(e1), None, None, dt.datetime(1999, 12, 31, 23, 59, 59), 1)])
    dlq._append([(tuple(e0), "latest", "s3", t + dt.timedelta(seconds=1), 4),
                 (tuple(e0), "older", "s4", t - dt.timedelta(days=1), 9)])
    dlq.add_event(e2, "boom", "s")
    ids = ["e0", "e1", "e2", "missing"]

    def check():
        for i in ids:
            assert dlq.get_entry(i) == _collected(dlq, i)
        entry = dlq.get_entry("e0")
        assert (entry.error, entry.subscription, entry.attempts) == ("latest", "s3", 4)
        assert entry.asDict(recursive=True) == _collected(dlq, "e0").asDict(recursive=True)
        assert dlq.get_entry("e1").event.payload is None
        assert dlq.get_entry("e1").event.metadata is None

    check()
    with _int96(spark):
        dlq.compact()
    assert {_timestamp_type(f) for f in visible_files(dlq.path)} == {"INT96"}
    check()
    dlq._append([(tuple(e2), "again", "s", dt.datetime(2100, 1, 1), 2)])
    check()
    assert dlq.get_entry("e2").attempts == 2


def _events_store(spark, tmp_path):
    """14 events, and a store holding them: e0-e5 are one Spark-written
    file per timestamp pair and the rest are driver-written, one or
    three rows to a file; e6-e8 tie."""
    tie = T0 + dt.timedelta(seconds=6)
    events = [_event(i) for i in range(6)]
    events += [_event(i, timestamp=tie) for i in (8, 6, 7)]
    events += [_event(i) for i in range(9, 14)]
    store = ParquetEventStore(spark, str(tmp_path / "events"))
    store.initialize()
    for k in range(0, 6, 2):
        store.save_events(spark.createDataFrame(events[k:k + 2], EVENT_SCHEMA).coalesce(1))
    store.save_events(events[6:9])
    for e in events[9:]:
        store.save_event(e)
    return events, store


def _kept(store) -> list[str]:
    return sorted(r.id for r in store.get_events("t").collect())


CUTS = [
    ("count", 8),  # cut on a file boundary inside the tie
    ("count", 7),  # cut inside the three-row file
    ("count", 10),  # cut between Spark-written files
    ("count", 11),  # cut inside a Spark-written file
    ("count", 20),  # nothing to drop
    ("time", T0 + dt.timedelta(seconds=9)),  # file boundary
    ("time", T0 + dt.timedelta(seconds=3)),  # inside a Spark-written file
    ("time", T0 + dt.timedelta(seconds=6)),  # the tie stays
    ("iso", (T0 + dt.timedelta(seconds=4)).isoformat()),
    ("iso", (T0 + dt.timedelta(seconds=6, microseconds=1)).isoformat()),
]


@pytest.mark.parametrize("host_tz", TZS, indirect=True)
def test_retention_keeps_same_ids(spark, tmp_path, host_tz):
    """``apply_retention`` (count and time) keeps the ids that the cut
    leaves in ``(timestamp, id)`` order, over files of both writers,
    ties included; an ISO-string ``delete_events`` keeps the ids that
    ``get_events(from_ts=)`` gives for the same string."""
    events, store0 = _events_store(spark, tmp_path)
    ordered = sorted(events, key=lambda e: (e.timestamp, e.id))
    for n, (kind, cut) in enumerate(CUTS):
        shutil.copytree(store0.path, str(tmp_path / f"cut{n}" / "events"))
        broker = EventBroker(spark, str(tmp_path / f"cut{n}"))
        if kind == "count":
            broker.create_topic("t", max_events=cut)
            deleted = broker.apply_retention("t")
            want = ordered[-cut:]
        elif kind == "time":
            broker.create_topic("t", retention_period=60.0)
            deleted = broker.apply_retention("t", now=cut + dt.timedelta(seconds=60))
            want = [e for e in ordered if e.timestamp >= cut]
        else:  # read in the session zone, as get_events reads it
            kept = {r.id for r in store0.get_events("t", from_ts=cut).collect()}
            deleted = broker.store.delete_events("t", cut)
            want = [e for e in ordered if e.id in kept]
        kept = _kept(broker.store)
        assert kept == sorted(e.id for e in want), (kind, cut)
        assert deleted + len(kept) == 14, (kind, cut)


def test_retention_cut_matches_spark_order(spark, tmp_path):
    """The cut is the ``keep``-th newest row of the same store's Spark
    read, in ``(timestamp, id)`` order."""
    _events, store = _events_store(spark, tmp_path)
    rows = store.get_events("t").collect()
    for keep in (1, 5, 7, 8, 9, 13):
        ts, event_id = store.retention_cut("t", keep)
        assert event_id == rows[-keep].id
        assert ts == rows[-keep].timestamp.astimezone(dt.timezone.utc)
    assert store.retention_cut("t", 14) is None


def test_file_boundary_sweep_unlinks_whole_files(spark, tmp_path):
    """A cut between files removes those files and their ``.crc``
    sidecars and leaves every other file, name included."""
    _events, store = _events_store(spark, tmp_path)
    part = store._part_dir("t")
    before = set(os.listdir(part))
    assert store.delete_events("t", T0 + dt.timedelta(seconds=2)) == 2
    after = set(os.listdir(part))
    assert after < before and len(before - after) == 2  # one file and its .crc
    names = [n for n in after if n.endswith(".parquet")]
    assert sorted(after) == sorted(names + [f".{n}.crc" for n in names])


def _multi_batch_file(part_dir: str, events: list) -> str:
    """``events`` written as one file of two-row row groups, newest
    first, so the oldest rows come in the last record batch."""
    rows = sorted(events, key=lambda e: (e.timestamp, e.id or ""), reverse=True)
    path = os.path.join(part_dir, "part-multi.parquet")
    pq.write_table(_event_table(rows), path, row_group_size=2)
    return path


def _event_table(rows: list) -> pa.Table:
    """``rows`` as a topic file's columns, INT64 UTC-μs timestamps."""
    return pa.table({
        "id": [e.id for e in rows],
        "type": [e.type for e in rows],
        "timestamp": pa.array([T.TimestampType().toInternal(e.timestamp) for e in rows])
        .cast(pa.timestamp("us", "UTC")),
        "schemaVersion": [e.schemaVersion for e in rows],
        "payload": [e.payload for e in rows],
        "metadata": pa.array([None if e.metadata is None else list(e.metadata.items())
                              for e in rows], pa.map_(pa.string(), pa.string())),
    })


def _bounded_store(spark, tmp_path):
    """One topic ``t`` over every kind of file: Spark-written (INT96),
    driver-written (one and several rows), and a multi-batch file; with
    four rows tied on one timestamp spread over the writers, and NULL
    payload and metadata; a NULL id (only a foreign writer makes one)
    ties e12, and sorts first. Also ``a/b c``, a topic that needs
    escapes, over a driver-written file and a Spark-written INT64 one."""
    store = ParquetEventStore(spark, str(tmp_path / "bounded"))
    store.initialize()
    tie = T0 + dt.timedelta(seconds=5)
    ev = [_event(i, type="ab"[i % 2]) for i in range(5)]
    ev += [_event(i, timestamp=tie, type="ab"[i % 2]) for i in (8, 5, 7, 6)]
    ev += [_event(i, type="abc"[i % 3], payload=None if i % 4 else "{}",
                  metadata=None if i % 3 else {"m": str(i)}) for i in range(9, 21)]
    with _int96(spark):
        store.save_events(spark.createDataFrame(ev[0:3] + ev[5:6], EVENT_SCHEMA).coalesce(1))
    store.save_events(ev[6:8])
    store.save_event(ev[3])
    store.save_event(ev[8])
    no_id = Row(**{**ev[12].asDict(), "id": None})
    _multi_batch_file(store._part_dir("t"), ev[4:5] + ev[9:] + [no_id])
    store.save_events([make_event("a/b c", "a", "{}", None, timestamp=T0, event_id="x1"),
                       make_event("a/b c", "b", None, {"k": "v"}, timestamp=T0, event_id="x0")])
    store.save_events(spark.createDataFrame(
        [make_event("a/b c", "c", None, {"m": "1", "n": "2"}, timestamp=T0, event_id="x2"),
         make_event("a/b c", "a", "{}", None, timestamp=T0 + dt.timedelta(seconds=1),
                    event_id="x3")], EVENT_SCHEMA).coalesce(1))
    return store


def _bounded_cases():
    tz = dt.timezone(dt.timedelta(hours=5, minutes=30))
    aware = (T0 + dt.timedelta(seconds=6)).replace(tzinfo=dt.timezone.utc).astimezone(tz)
    windows = [
        {},
        {"from_ts": T0 + dt.timedelta(seconds=5)},  # naive: the host's zone
        {"to_ts": T0 + dt.timedelta(seconds=5)},
        {"from_ts": aware, "to_ts": T0 + dt.timedelta(seconds=15)},
        {"from_ts": "2024-01-15 12:00:05.25"},  # a string: the session zone
        {"from_ts": "2024-01-15T12:00:02+00:00", "to_ts": "2024-01-15T12:00:12.250+00:00"},
        {"event_types": ["a"]},
        {"event_types": ["b", "c"], "from_ts": T0 + dt.timedelta(seconds=3)},
        {"event_types": []},
        {"event_types": ["zzz"]},
    ]
    for kw in windows:
        for k in (1, 3, 50):  # 50 is more than any window matches
            yield "t", kw, k
    for topic in ("a/b c", "missing"):
        yield topic, {}, 5


@pytest.mark.parametrize("host_tz", TZS, indirect=True)
def test_bounded_get_events_matches_spark(spark, tmp_path, host_tz):
    """``get_events(limit=k)`` read on the driver gives the Rows, order
    and schema of the same store's unbounded Spark read cut to ``k``,
    and starts no Spark job; also for string bounds under a non-UTC
    session time zone. ``replay_events(limit=k)`` hands its handler
    those Rows too, field order included."""
    store = _bounded_store(spark, tmp_path)
    broker = EventBroker(spark, str(tmp_path / "b"))
    broker.store = store
    part = store._part_dir("t")
    assert "INT96" in {_timestamp_type(f) for f in visible_files(part)}
    assert "INT64" in {_timestamp_type(f) for f in visible_files(part)}
    multi = os.path.join(part, "part-multi.parquet")
    assert len(list(ds.dataset(multi).to_batches())) > 1
    session_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for zone in ("UTC", "America/Los_Angeles"):
            spark.conf.set("spark.sql.session.timeZone", zone)
            cases = list(_bounded_cases())
            replayed = [[] for _ in cases]
            with JobBudget(spark) as budget:
                bounded = [store.get_events(t, limit=k, **kw) for t, kw, k in cases]
                got = [df.collect() for df in bounded]
                for (t, kw, k), handed in zip(cases, replayed):
                    assert broker.replay_events(t, handed.append, limit=k, **kw) == len(handed)
                assert budget.jobs() == 0
            for (t, kw, k), df, rows, handed in zip(cases, bounded, got, replayed):
                spark_df = store.get_events(t, **kw)
                want = spark_df.collect()[:k]
                assert df.schema == spark_df.schema
                assert [r.asDict(recursive=True) for r in rows] \
                    == [r.asDict(recursive=True) for r in want], (zone, t, kw, k)
                assert [r.asDict(recursive=True) for r in handed] \
                    == [r.asDict(recursive=True) for r in want], (zone, t, kw, k)
                assert [r.__fields__ for r in handed] == [r.__fields__ for r in want]
            assert sum(map(len, got)) > 50
            assert [r.id for r in got[7]] == ["e0", "e1", "e2"]  # to_ts, k=3
            ids = [r.id for r in got[2]]  # no filter, k=50: every row
            assert ids[ids.index("e12") - 1] is None
            assert [r.id for r in got[4]] == ["e5", "e6", "e7"]  # from_ts, k=3: the tie by id
    finally:
        spark.conf.set("spark.sql.session.timeZone", session_tz)


def test_spark_written_files_answer_from_footers(spark, tmp_path, monkeypatch):
    """A Spark write from the ``get_spark`` session, and a ``compact``
    of it, leave INT64 timestamps with footer statistics and a
    delta-encoded ``_seq``; a retention sweep over them reads no
    column."""
    store = ParquetEventStore(spark, str(tmp_path / "events"))
    store.initialize()
    events = [_event(i) for i in range(9)]
    for k in (0, 3):
        store.save_events(spark.createDataFrame(events[k:k + 3], EVENT_SCHEMA).coalesce(1))
    assert store.compact("t") == 1
    store.save_events(spark.createDataFrame(events[6:], EVENT_SCHEMA).coalesce(1))
    files = visible_files(store._part_dir("t"))
    assert len(files) == 2
    assert {_timestamp_type(f) for f in files} == {"INT64"}
    for f in files:
        md = pq.read_metadata(f)
        i = [md.schema.column(j).path for j in range(md.num_columns)].index(SEQ)
        assert "DELTA_BINARY_PACKED" in md.row_group(0).column(i).encodings
    read = []
    column_read = pq.ParquetFile.read

    def spying(self, *args, **kwargs):
        read.append(kwargs.get("columns"))
        return column_read(self, *args, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "read", spying)
    store = ParquetEventStore(spark, store.path)  # no footer read yet
    with JobBudget(spark) as budget:
        assert store.delete_events("t", T0 + dt.timedelta(seconds=5.5)) == 6
        assert budget.jobs() == 0
    assert read == []
    assert _kept(store) == ["e6", "e7", "e8"]


@pytest.mark.parametrize("host_tz", TZS, indirect=True)
def test_string_cut_reads_in_the_session_zone(spark, tmp_path, host_tz):
    """``delete_events`` reads an ISO string in the session time zone,
    as ``get_events`` does: a sweep keeps exactly the rows
    ``get_events(from_ts=s)`` gives, whether the cut falls inside a
    file or between files, and a NULL bound deletes nothing."""
    s = "2024-01-15 16:00:00"
    events = [_event(i, timestamp=dt.datetime(2024, 1, 15, 12) + dt.timedelta(hours=i))
              for i in range(10)]
    for layout in ("one-file", "file-per-event"):
        store = ParquetEventStore(spark, str(tmp_path / layout))
        store.initialize()
        for batch in ([events] if layout == "one-file" else [[e] for e in events]):
            store.save_events(batch)
        want = sorted(r.id for r in store.get_events("t", from_ts=s).collect())
        assert store.delete_events("t", s) == 10 - len(want), layout
        assert _kept(store) == want, layout
        assert store.delete_events("t", None) == 0
        assert _kept(store) == want, layout


def test_each_footer_is_read_once_per_store(spark, tmp_path, monkeypatch):
    """A retention sweep, catch-ups and ``lag`` on one topic read each
    file's footer once between them: the store keeps what it read."""
    reads = []
    stats = parquet_read.file_stats

    def spying(path, seq):
        reads.append(path)
        return stats(path, seq)

    monkeypatch.setattr(parquet_read, "file_stats", spying)
    monkeypatch.setattr(event_store, "file_stats", spying)
    broker = EventBroker(spark, str(tmp_path / "b"))
    broker.create_topic("t", max_events=3)
    for i in range(6):
        broker.publish("t", "x", {"i": i})
    assert broker.apply_retention("t") == 3
    seen = []
    sid = broker.subscribe_streaming(
        "t", lambda df, epoch: seen.extend(r.id for r in df.collect()),
        SubscriptionOptions(name="s"), checkpoint=str(tmp_path / "ckpt"))
    broker.subscriptions[sid].query.awaitTermination(60)
    broker.pause(sid)
    assert broker.lag(sid) == 0
    broker.publish("t", "x", {"i": 6})
    assert broker.lag(sid) == 1
    broker.resume(sid)
    broker.subscriptions[sid].query.awaitTermination(60)
    assert broker.lag(sid) == 0 and len(seen) == 4
    assert len(reads) == 7 and len(set(reads)) == 7
    assert set(visible_files(broker.store._part_dir("t"))) <= set(reads)


def _seq_file(part_dir: str, name: str, events: list, first: int, statistics: bool) -> str:
    """``events`` as a topic file numbered from ``first``, as pyarrow
    writes it with or without footer statistics."""
    os.makedirs(part_dir, exist_ok=True)
    table = _event_table(events).append_column(
        SEQ, pa.array(range(first, first + len(events)), pa.int64()))
    path = os.path.join(part_dir, f"part-{name}.parquet")
    pq.write_table(table, path, write_statistics=statistics)
    return path


def test_files_without_statistics_read_their_columns(spark, tmp_path):
    """A topic file with no footer statistics has its ``timestamp`` and
    ``_seq`` read instead: retention, the cursor's delivery and ``lag``
    answer as they do for the same rows written with statistics."""
    events = [_event(i) for i in range(12)]
    answers = []
    for statistics in (True, False):
        broker = EventBroker(spark, str(tmp_path / f"stats-{statistics}"))
        part = broker.store._part_dir("t")
        a = _seq_file(part, "a", events[0:4], 1, statistics)
        _seq_file(part, "b", events[4:8], 5, statistics)
        assert (pq.read_metadata(a).row_group(0).column(0).statistics is not None) == statistics
        got = [parquet_read.file_stats(a, SEQ)._replace(path=None, size=None)]
        seen = []
        sid = broker.subscribe_streaming(
            "t", lambda df, epoch, seen=seen: seen.extend((epoch, r.id) for r in df.collect()),
            SubscriptionOptions(name="s"), checkpoint=str(tmp_path / f"ckpt-{statistics}"))
        broker.subscriptions[sid].query.awaitTermination(60)
        broker.pause(sid)
        _seq_file(part, "c", events[8:12], 9, statistics)
        got.append(broker.lag(sid))
        got.append(broker.store.retention_cut("t", 7))
        got.append(broker.store.delete_events("t", T0 + dt.timedelta(seconds=4)))  # file a
        got.append(broker.store.delete_events("t", T0 + dt.timedelta(seconds=5.5)))  # inside b
        got.append(broker.lag(sid))
        broker.resume(sid)
        broker.subscriptions[sid].query.awaitTermination(60)
        got += [broker.lag(sid), seen, _kept(broker.store)]
        answers.append(got)
    assert answers[0] == answers[1]
    stats, lag, cut, whole, inside, left, done, seen, kept = answers[0]
    assert (stats.rows, stats.seq_lo, stats.seq_hi, stats.seq_nulls) == (4, 1, 4, 0)
    assert (lag, whole, inside, left, done) == (4, 4, 2, 4, 0)
    assert cut[1] == "e5" and kept == sorted(f"e{i}" for i in range(6, 12))
    assert seen == [(0, f"e{i}") for i in range(8)] + [(1, f"e{i}") for i in range(8, 12)]


def _no_jvm(*_args, **_kwargs):
    raise AssertionError("a limited replay went through the JVM")


def test_broker_driver_paths_start_no_spark_job(spark, tmp_path):
    """A count sweep and a time sweep whose cuts fall between files, a
    redrive, ``delete_topic``'s count, a limited replay and the
    aggregate ``exists`` probe run on the driver; the replay builds no
    DataFrame and collects none."""
    broker = EventBroker(spark, str(tmp_path / "b"))
    broker.create_topic("orders", max_events=3)
    broker.create_topic("old", retention_period=3600.0)

    def fail(_):
        raise RuntimeError("down")

    broker.subscribe("orders", fail, SubscriptionOptions(name="bad", max_retries=1, retry_delay=0))
    ids = [broker.publish("orders", "order", {"n": i}).event_id for i in range(5)]
    for i in range(4):
        broker.store.save_event(make_event("old", "x", timestamp=T0 + dt.timedelta(hours=i)))
    broker.dlq.compact()  # the lookup also reads Spark-written files
    counted = broker.store.to_df().where(F.col("topic") == "old").count()
    repo = RepositoryFactory(broker.store).create_repository(lambda i: None, "account")
    broker.store.save_event(make_event("aggregate.account.a1", "opened"))
    with JobBudget(spark) as budget:
        assert broker.apply_retention("orders") == 2
        assert broker.apply_retention("old", now=T0 + dt.timedelta(hours=3)) == 2
        assert broker.retry_dlq_event(ids[0]) is False  # still failing: a new version
        assert broker.retry_dlq_event("missing") is False
        assert broker.store.delete_topic("old") == counted - 2
        replayed = []
        with pytest.MonkeyPatch.context() as m:  # no JVM call at all
            m.setattr(type(spark), "createDataFrame", _no_jvm)
            m.setattr(type(spark.range(1)), "collect", _no_jvm)
            assert broker.replay_events("orders", replayed.append, limit=2) == 2
        assert repo.exists("a1") and not repo.exists("a2")
        assert budget.jobs() == 0
        spark.range(1).count()  # the meter does see jobs of this group
        assert budget.jobs() >= 1
    assert [r.id for r in replayed] == ids[2:4]
    assert broker.store.get_events("orders").count() == 3
    entry = broker.dlq.get_entry(ids[0])
    assert (entry.attempts, entry.error) == (2, "down")
