"""The driver-side parquet append (storage/parquet_append.py).

Rows held by the driver are written without a Spark job. These tests
pin that the files are interchangeable with what Spark's own writer
produced for the same rows: same values in any host time zone, same
partition directories, same ``.crc`` integrity check, atomic
visibility, and zero jobs on the publish path.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import uuid

import pytest
from pyspark.sql import functions as F

from env_event_stream_spark.storage import parquet_append
from env_event_stream_spark.storage.dlq_store import DLQ_SCHEMA, ParquetDeadLetterQueue
from env_event_stream_spark.storage.event_store import (
    EVENT_SCHEMA,
    ParquetEventStore,
    make_event,
)
from env_event_stream_spark.streaming.broker import EventBroker, SubscriptionOptions

TZS = ["UTC", "America/New_York", "Asia/Tokyo"]
ODD_TOPICS = ["a/b", "x:y", "eq=1", "#h", "pct%20", "sp ace"]


def _events():
    ts = dt.datetime(2024, 3, 10, 6, 59, 59, 123456)  # μs, near a DST switch
    return [
        make_event("t", "a", '{"n": 1}', {"k": "v", "é": "ü"}, timestamp=ts, event_id="e1"),
        make_event("t", "b", None, None, timestamp=ts + dt.timedelta(microseconds=1),
                   event_id="e2"),
        make_event("a/b", "c", '{"n": 3}', {}, timestamp=dt.datetime(1970, 1, 1, 0, 0, 0, 1),
                   event_id="e3"),
        make_event("sp ace", "d", "", {"x": None},
                   timestamp=dt.datetime(2038, 1, 19, 3, 14, 8, tzinfo=dt.timezone.utc),
                   event_id="e4"),
    ]


def _read_back(df):
    """Collected rows plus each timestamp's exact instant."""
    return sorted(
        df.withColumn("_us", F.unix_micros("timestamp")).collect(), key=lambda r: r.id
    )


def _part_dirs(path):
    return sorted(d for d in os.listdir(path) if not d.startswith((".", "_")))


@pytest.mark.parametrize("host_tz", TZS, indirect=True)
def test_event_rows_match_spark_writer(spark, tmp_path, host_tz):
    rows = _events()
    oracle = str(tmp_path / "oracle")
    spark.createDataFrame(rows, EVENT_SCHEMA).write.mode("append") \
        .partitionBy("topic").parquet(oracle)
    store = ParquetEventStore(spark, str(tmp_path / "store"))
    store.initialize()
    assert store.save_events(rows) == len(rows)

    assert _read_back(store.to_df()) == _read_back(ParquetEventStore(spark, oracle).to_df())
    assert _part_dirs(store.path) == _part_dirs(oracle)
    # one file and one sidecar per topic
    for d in _part_dirs(store.path):
        names = os.listdir(os.path.join(store.path, d))
        data = [n for n in names if n.endswith(".parquet")]
        assert len(data) == 1 and sorted(names) == sorted(data + [f".{data[0]}.crc"])


@pytest.mark.parametrize("host_tz", TZS, indirect=True)
def test_dlq_rows_match_spark_writer(spark, tmp_path, host_tz):
    ev = _events()
    rows = [
        (tuple(ev[0]), "boom", "sub-1", dt.datetime(2024, 5, 1, 12, 0, 0, 999999), 1),
        (tuple(ev[1]), None, None, dt.datetime(2001, 1, 1), 7),
    ]
    oracle = str(tmp_path / "oracle")
    spark.createDataFrame(rows, DLQ_SCHEMA).write.mode("append").parquet(oracle)
    dlq = ParquetDeadLetterQueue(spark, str(tmp_path / "dlq"))
    dlq._append(rows)

    def read(path):
        df = spark.read.schema(DLQ_SCHEMA).parquet(path)
        return sorted(
            df.withColumn("_us", F.unix_micros("timestamp"))
            .withColumn("_ev_us", F.unix_micros("event.timestamp")).collect(),
            key=lambda r: r.event.id,
        )

    assert read(dlq.path) == read(oracle)


def test_invalid_row_raises_and_writes_nothing(spark, tmp_path):
    """Rows are checked as createDataFrame(verifySchema=True) checks
    them, and all of them before the first file is written."""
    store = ParquetEventStore(spark, str(tmp_path / "ev"))
    store.initialize()
    good = make_event("t1", "a", event_id="ok")
    bad = make_event("t2", None, event_id="bad")
    with pytest.raises(Exception, match="FIELD_NOT_NULLABLE_WITH_NAME"):
        store.save_events([good, bad])
    assert os.listdir(store.path) == []


def test_streaming_subscription_sees_driver_written_batch(spark, tmp_path):
    broker = EventBroker(spark, str(tmp_path / "b"))
    seen = []
    sid = broker.subscribe_streaming(
        "clicks", lambda df, _epoch: seen.extend(r.id for r in df.collect()),
        SubscriptionOptions(name="clicks"), checkpoint=str(tmp_path / "ckpt"))
    broker.subscriptions[sid].query.awaitTermination(60)
    broker.pause(sid)
    assert seen == []

    n = broker.publish_many("clicks", [("view", {"i": i}, None) for i in range(5)])
    stored = {r.id for r in broker.store.get_events("clicks").collect()}
    broker.resume(sid)
    broker.subscriptions[sid].query.awaitTermination(60)
    assert n == 5 and sorted(seen) == sorted(stored) and len(stored) == 5


def test_failed_rename_leaves_no_partial_file(spark, tmp_path, monkeypatch):
    """Fault injection: a crash between writing the hidden file and
    renaming it into place must leave nothing a reader sees, and no
    debris that breaks the next append."""
    broker = EventBroker(spark, str(tmp_path / "b"))
    broker.publish("t", "first", {"n": 1})
    part = os.path.join(broker.store.path, "topic=t")
    before = sorted(os.listdir(part))

    def boom(src, dst):
        raise OSError("disk gone")

    with monkeypatch.context() as m:
        m.setattr(parquet_append.os, "rename", boom)
        with pytest.raises(OSError, match="disk gone"):
            broker.publish("t", "lost", {"n": 2})
    assert sorted(os.listdir(part)) == before
    assert [r.type for r in broker.store.get_events("t").collect()] == ["first"]

    assert broker.publish("t", "second", {"n": 3}).success
    assert sorted(r.type for r in broker.store.get_events("t").collect()) == ["first", "second"]


def test_flipped_byte_fails_the_read(spark, tmp_path):
    """The .crc sidecar makes Hadoop's local filesystem verify a
    driver-written file on read, as it does for Spark-written ones."""
    store = ParquetEventStore(spark, str(tmp_path / "ev"))
    store.initialize()
    store.save_event(make_event("t", "a", '{"n": 1}', event_id="e1"))
    assert store.get_events("t").count() == 1
    (path,) = glob.glob(os.path.join(store.path, "topic=t", "*.parquet"))
    with open(path, "r+b") as f:
        f.seek(os.path.getsize(path) // 2)
        b = f.read(1)
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(Exception, match="ChecksumException"):
        store.get_events("t").collect()


def test_crc_sidecar_is_byte_identical_to_hadoops(spark, tmp_path):
    out = str(tmp_path / "spark")
    spark.range(5000).selectExpr("id", "uuid() AS s").coalesce(1).write.parquet(out)
    (path,) = glob.glob(os.path.join(out, "*.parquet"))
    with open(path, "rb") as f:
        data = f.read()
    assert len(data) > 512  # more than one chunk
    crc = os.path.join(out, f".{os.path.basename(path)}.crc")
    with open(crc, "rb") as f:
        assert parquet_append._hadoop_crc(data) == f.read()


def test_publish_starts_no_spark_job(spark, tmp_path):
    """A publish, one that dead-letters included, runs entirely on the
    driver; a 1,000-event publish_many adds exactly one file to its
    topic."""
    broker = EventBroker(spark, str(tmp_path / "b"))

    def fail(_):
        raise RuntimeError("down")

    broker.subscribe("orders", lambda e: None, SubscriptionOptions(name="ok"))
    broker.subscribe("orders", fail, SubscriptionOptions(
        name="bad", event_types=["refund"], max_retries=1, retry_delay=0))
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    try:
        def jobs():
            return len(sc.statusTracker().getJobIdsForGroup(group))

        assert broker.publish("orders", "order", {"n": 1}).receiver_count == 1
        assert broker.publish("orders", "refund", {"n": 2}).receiver_count == 2
        broker.publish_many("clicks", [("view", {"i": i}, None) for i in range(1000)])
        assert jobs() == 0
        spark.range(1).count()  # the meter does see jobs of this group
        assert jobs() >= 1
    finally:
        sc._jsc.clearJobGroup()
    assert broker.dlq.get_events().count() == 1
    files = glob.glob(os.path.join(broker.store.path, "topic=clicks", "*.parquet"))
    assert len(files) == 1
    assert broker.store.get_events("clicks").count() == 1000


def test_topic_names_needing_escapes_round_trip(spark, tmp_path):
    """Every partition-dir site uses Spark's escaping: a topic Spark
    writes as topic=a%2Fb is found again by retention, compaction and
    delete_topic."""
    store = ParquetEventStore(spark, str(tmp_path / "ev"))
    store.initialize()
    old, new = dt.datetime(2020, 1, 1), dt.datetime(2031, 1, 1)
    for i, t in enumerate(ODD_TOPICS):
        store.save_event(make_event(t, "x", event_id=f"{i}-old", timestamp=old))
        store.save_event(make_event(t, "x", event_id=f"{i}-new", timestamp=new))
        store.save_event(make_event(t, "x", event_id=f"{i}-newer",
                                    timestamp=new + dt.timedelta(seconds=1)))
    cut = dt.datetime(2030, 1, 1)
    for i, t in enumerate(ODD_TOPICS):
        got = sorted((r.id, r.topic) for r in store.get_events(t).collect())
        assert got == [(f"{i}-new", t), (f"{i}-newer", t), (f"{i}-old", t)]
        assert store.compact(t) == 2  # three one-event files -> one
        assert len(glob.glob(os.path.join(store._part_dir(t), "*.parquet"))) == 1
        assert store.delete_events(t, cut) == 1
        assert sorted(r.id for r in store.get_events(t).collect()) == [f"{i}-new", f"{i}-newer"]
        assert store.delete_topic(t) == 2
        assert store.get_events(t).count() == 0
        assert not os.path.exists(store._part_dir(t))
    assert _part_dirs(store.path) == []
