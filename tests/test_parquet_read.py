"""Driver-side reads (storage/parquet_read.py) and the broker paths on
them: DLQ redrive lookup, retention planned from the files, and
``delete_topic``'s count.

Each answer is pinned against what Spark gives for the same files, in
several host time zones, over files the driver wrote (INT64
timestamps with footer statistics) and files Spark wrote (INT96, no
statistics); and the driver paths are pinned to start no Spark job.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from env_event_stream_spark.storage.dlq_store import (
    InMemoryDeadLetterQueue,
    ParquetDeadLetterQueue,
)
from env_event_stream_spark.storage.event_store import (
    EVENT_SCHEMA,
    InMemoryEventStore,
    ParquetEventStore,
    make_event,
)
from env_event_stream_spark.storage.parquet_read import visible_files
from env_event_stream_spark.streaming.broker import EventBroker, SubscriptionOptions

TZS = ["UTC", "America/New_York", "Asia/Tokyo"]
T0 = dt.datetime(2024, 1, 15, 12, 0, 0, 250000)


def _event(i: int, **kw):
    kw.setdefault("timestamp", T0 + dt.timedelta(seconds=i))
    return make_event("t", "e", kw.pop("payload", '{"i": %d}' % i), kw.pop("metadata", {"k": "v"}),
                      event_id=f"e{i}", **kw)


class JobBudget:
    """Counts the Spark jobs started in a job group of its own."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.group = f"budget-{uuid.uuid4().hex}"

    def __enter__(self):
        self.sc.setJobGroup(self.group, "job budget")
        return self

    def __exit__(self, *exc):
        self.sc._jsc.clearJobGroup()

    def jobs(self) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(self.group))


def _timestamp_type(path: str) -> str:
    schema = pq.ParquetFile(path).schema
    return next(schema.column(i).physical_type for i in range(len(schema))
                if schema.column(i).path == "timestamp")


def _collected(dlq, event_id):
    rows = dlq.to_df().where(F.col("event.id") == event_id).collect()
    assert len(rows) <= 1
    return rows[0] if rows else None


@pytest.mark.parametrize("host_tz", TZS, indirect=True)
def test_dlq_get_entry_matches_spark_collect(spark, tmp_path, host_tz):
    """``get_entry`` returns the Row ``to_df().collect()`` gives: on
    driver-written files, after ``compact`` rewrote them with Spark
    (INT96), and with a driver append on top of that."""
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
    dlq.compact()
    assert {_timestamp_type(f) for f in visible_files(dlq.path)} == {"INT96"}
    check()
    dlq._append([(tuple(e2), "again", "s", dt.datetime(2100, 1, 1), 2)])
    check()
    assert dlq.get_entry("e2").attempts == 2


@pytest.mark.parametrize("host_tz", TZS, indirect=True)
def test_in_memory_dlq_get_entry_matches_collect(spark, host_tz):
    dlq = InMemoryDeadLetterQueue(spark)
    dlq.add_event(_event(0), "boom", "s")
    dlq.add_event(_event(1, payload=None, metadata=None), None, None)
    for i in ("e0", "e1", "missing"):
        assert dlq.get_entry(i) == _collected(dlq, i)


def _stores(spark, tmp_path):
    """The same events in both backends. In the parquet one, e0-e5 are
    one Spark-written file per timestamp pair and the rest are
    driver-written, one or three rows to a file; e6-e8 tie."""
    tie = T0 + dt.timedelta(seconds=6)
    events = [_event(i) for i in range(6)]
    events += [_event(i, timestamp=tie) for i in (8, 6, 7)]
    events += [_event(i) for i in range(9, 14)]
    memory = InMemoryEventStore(spark)
    memory.save_events(events)
    parquet = ParquetEventStore(spark, str(tmp_path / "events"))
    parquet.initialize()
    for k in range(0, 6, 2):
        parquet.save_events(spark.createDataFrame(events[k:k + 2], EVENT_SCHEMA).coalesce(1))
    parquet.save_events(events[6:9])
    for e in events[9:]:
        parquet.save_event(e)
    return memory, parquet


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
def test_retention_keeps_same_ids_on_both_backends(spark, tmp_path, host_tz):
    """``apply_retention`` (count and time) and an ISO-string
    ``delete_events`` keep the same ids on the in-memory store and on
    parquet files of both writers, ties included."""
    memory0, parquet0 = _stores(spark, tmp_path)
    for n, (kind, cut) in enumerate(CUTS):
        memory = InMemoryEventStore(spark)
        memory.save_events(memory0._rows)
        parquet = ParquetEventStore(spark, str(tmp_path / f"cut{n}"))
        shutil.copytree(parquet0.path, parquet.path)
        got = []
        for store in (memory, parquet):
            broker = EventBroker(spark)
            broker.store = store
            if kind == "count":
                broker.create_topic("t", max_events=cut)
                deleted = broker.apply_retention("t")
            elif kind == "time":
                broker.create_topic("t", retention_period=60.0)
                deleted = broker.apply_retention("t", now=cut + dt.timedelta(seconds=60))
            else:
                deleted = store.delete_events("t", cut)
            kept = _kept(store)
            assert deleted + len(kept) == 14, (kind, cut, store)
            got.append(kept)
        assert got[0] == got[1], (kind, cut)
        if kind == "count":
            assert len(got[1]) == min(cut, 14)


def test_retention_cut_matches_spark_order(spark, tmp_path):
    memory, parquet = _stores(spark, tmp_path)
    for keep in (1, 5, 7, 8, 9, 13):
        m, p = memory.retention_cut("t", keep), parquet.retention_cut("t", keep)
        assert p[1] == m[1]
        assert p[0] == m[0].astimezone(dt.timezone.utc)
    assert memory.retention_cut("t", 14) is parquet.retention_cut("t", 14) is None


def test_file_boundary_sweep_unlinks_whole_files(spark, tmp_path):
    """A cut between files removes those files and their ``.crc``
    sidecars and leaves every other file, name included."""
    _memory, store = _stores(spark, tmp_path)
    part = store._part_dir("t")
    before = set(os.listdir(part))
    assert store.delete_events("t", T0 + dt.timedelta(seconds=2)) == 2
    after = set(os.listdir(part))
    assert after < before and len(before - after) == 2  # one file and its .crc
    names = [n for n in after if n.endswith(".parquet")]
    assert sorted(after) == sorted(names + [f".{n}.crc" for n in names])


def test_broker_driver_paths_start_no_spark_job(spark, tmp_path):
    """A count sweep and a time sweep whose cuts fall between files, a
    redrive, and ``delete_topic``'s count run on the driver."""
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
    with JobBudget(spark) as budget:
        assert broker.apply_retention("orders") == 2
        assert broker.apply_retention("old", now=T0 + dt.timedelta(hours=3)) == 2
        assert broker.retry_dlq_event(ids[0]) is False  # still failing: a new version
        assert broker.retry_dlq_event("missing") is False
        assert broker.store.delete_topic("old") == counted - 2
        assert budget.jobs() == 0
        spark.range(1).count()  # the meter does see jobs of this group
        assert budget.jobs() >= 1
    assert broker.store.get_events("orders").count() == 3
    entry = broker.dlq.get_entry(ids[0])
    assert (entry.attempts, entry.error) == (2, "down")
