"""Parquet-backed broker: durable store, streaming subscriptions,
checkpointed resume, watermarked windows."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest

from pyspark.sql import functions as F

from env_event_stream_spark.streaming import EventBroker, SubscriptionOptions
from env_event_stream_spark.streaming.windows import (
    dedup_within_watermark,
    session,
    sliding,
    tumbling,
)


@pytest.fixture()
def pbroker(spark, tmp_path):
    return EventBroker(spark, str(tmp_path / "broker"))


def test_parquet_store_roundtrip(pbroker):
    pbroker.publish("t1", "a", {"n": 1})
    pbroker.publish("t1", "b", {"n": 2})
    pbroker.publish("t2", "a", {"n": 3})
    got = pbroker.store.get_events("t1").collect()
    assert [r.type for r in got] == ["a", "b"]
    # partition pruning: only topic=t1 read
    assert all(r.topic == "t1" for r in got)


def test_streaming_subscription_backlog_and_live(pbroker, tmp_path):
    """Table-backed stream: backlog + live in ONE query (upgrade over
    the reference's racy historical catch-up, SURVEY §3.2)."""
    pbroker.publish_many("s", [("a", {"i": i}, None) for i in range(3)])
    seen = []
    sid = pbroker.subscribe_streaming(
        "s",
        options=SubscriptionOptions(name="stream-sub", retry_delay=0),
        checkpoint=str(tmp_path / "ckpt"),
        handler=lambda e: seen.append(e.payload),
    )
    pbroker.subscriptions[sid].query.awaitTermination(60)
    assert len(seen) == 3  # backlog consumed

    # live: new events picked up by a restarted query from the same
    # checkpoint (exactly-once over the union of runs)
    pbroker.publish_many("s", [("a", {"i": 99}, None)])
    sid2 = pbroker.subscribe_streaming(
        "s",
        options=SubscriptionOptions(name="stream-sub-2", retry_delay=0),
        checkpoint=str(tmp_path / "ckpt"),  # same checkpoint → resume
        handler=lambda e: seen.append(e.payload),
    )
    pbroker.subscriptions[sid2].query.awaitTermination(60)
    assert len(seen) == 4  # only the new event, no reprocessing


def test_streaming_source_lists_only_its_topic_dir(pbroker, tmp_path, monkeypatch):
    """A subscription's cursor lists its own topic's partition dir and
    no other, and the delivered rows keep EVENT_SCHEMA's fields and
    order."""
    from env_event_stream_spark.storage import event_store
    from env_event_stream_spark.storage.event_store import EVENT_SCHEMA

    pbroker.publish_many("a", [("x", {"i": i}, None) for i in range(2)])
    pbroker.publish_many("b", [("x", {"i": 9}, None)])
    listed = []

    def spy(directory):
        listed.append(directory)
        return visible_files(directory)

    visible_files = event_store.visible_files
    monkeypatch.setattr(event_store, "visible_files", spy)
    rows = []
    sid = pbroker.subscribe_streaming("a", checkpoint=str(tmp_path / "ckpt"), handler=rows.append)
    pbroker.subscriptions[sid].query.awaitTermination(60)
    assert sorted(r.payload for r in rows) == ['{"i": 0}', '{"i": 1}']
    assert all(r.topic == "a" for r in rows)
    assert all(list(r.asDict()) == EVENT_SCHEMA.fieldNames() for r in rows)

    assert listed
    assert set(listed) == {pbroker.store._part_dir("a")}, listed


def test_streaming_retry_to_dlq(pbroker, tmp_path):
    def failing(_):
        raise RuntimeError("handler down")

    pbroker.publish("f", "x", {"n": 1})
    sid = pbroker.subscribe_streaming(
        "f",
        options=SubscriptionOptions(
            name="fsub", max_retries=1, retry_delay=0
        ),
        checkpoint=str(tmp_path / "c2"),
        handler=failing,
    )
    pbroker.subscriptions[sid].query.awaitTermination(60)
    entries = pbroker.dlq.get_events().collect()
    assert len(entries) == 1
    assert entries[0].subscription == "fsub"
    assert entries[0].error == "handler down"


def test_pause_resume_streaming_restarts(pbroker, tmp_path):
    """T8 upgrade mode: pause() stops the streaming query; resume()
    RESTARTS it from the same checkpoint, so events published while
    paused are delivered on resume (not silently never consumed)."""
    seen = []
    sid = pbroker.subscribe_streaming(
        "pr",
        options=SubscriptionOptions(name="prsub", retry_delay=0),
        checkpoint=str(tmp_path / "prc"),
        handler=lambda e: seen.append(e.payload),
    )
    pbroker.subscriptions[sid].query.awaitTermination(60)
    pbroker.pause(sid)
    pbroker.publish("pr", "a", {"i": 1})  # arrives while paused
    assert seen == []

    pbroker.resume(sid)
    q = pbroker.subscriptions[sid].query
    assert q is not None
    q.awaitTermination(60)
    assert seen == ['{"i": 1}']


def test_whole_file_retention_does_not_redeliver(pbroker, tmp_path):
    """A count sweep whose cut falls between files unlinks the old
    files and leaves the kept ones as they are, so a streaming
    subscription resumed after it delivers nothing again."""
    pbroker.create_topic("rt", max_events=3)
    seen = []
    sid = pbroker.subscribe_streaming(
        "rt",
        options=SubscriptionOptions(name="rtsub", retry_delay=0),
        checkpoint=str(tmp_path / "rtc"),
        handler=lambda e: seen.append(e.id),
    )
    pbroker.subscriptions[sid].query.awaitTermination(60)
    pbroker.pause(sid)
    ids = [pbroker.publish("rt", "a", {"i": i}).event_id for i in range(5)]  # one file each
    pbroker.resume(sid)
    pbroker.subscriptions[sid].query.awaitTermination(60)
    pbroker.pause(sid)
    assert sorted(seen) == sorted(ids)

    assert pbroker.apply_retention("rt") == 2
    pbroker.resume(sid)
    pbroker.subscriptions[sid].query.awaitTermination(60)
    assert len(seen) == 5


def test_delete_topic_drops_partition_and_dlq(pbroker, tmp_path):
    """deleteTopic on the parquet broker removes the topic's partition
    directory and its DLQ entries, leaving other topics intact."""
    def failing(_):
        raise RuntimeError("down")

    pbroker.subscribe(
        "da", failing,
        SubscriptionOptions(name="dasub", max_retries=1, retry_delay=0),
    )
    pbroker.publish("da", "e", {"n": 1})
    pbroker.publish("db", "e", {"n": 2})
    assert pbroker.dlq.get_events().count() == 1

    assert pbroker.delete_topic("da") is True
    assert pbroker.store.get_events("da").count() == 0
    assert pbroker.dlq.get_events().count() == 0
    assert pbroker.store.get_events("db").count() == 1


def test_vectorized_batch_handler(pbroker, tmp_path):
    """The scale path: DataFrame-in batch handler, no row loop."""
    pbroker.publish_many("v", [("a", {"i": i}, None) for i in range(10)])
    counts = []
    sid = pbroker.subscribe_streaming(
        "v",
        batch_handler=lambda df, epoch: counts.append(df.count()),
        options=SubscriptionOptions(name="vsub"),
        checkpoint=str(tmp_path / "c3"),
    )
    pbroker.subscriptions[sid].query.awaitTermination(60)
    assert sum(counts) == 10


def test_windows_batch_parity(spark, sf_dir):
    """Window builders work identically on batch frames (stream/table
    duality); streaming twins use the same code path."""
    from env_event_stream_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    t = tumbling(ev, "ts", "1 day", keys=["event_type"],
                 aggs=[F.count("*").alias("n")])
    assert t.count() > 0
    s = sliding(ev, "ts", "2 days", "1 day", aggs=[F.sum("value").alias("v")])
    assert s.count() > 0
    sess = session(ev.where(F.col("user_id") == 1), "ts", "30 minutes",
                   keys=["user_id"], aggs=[F.count("*").alias("n")])
    assert sess.count() > 0
    d = dedup_within_watermark(ev.select("user_id", "event_type"),
                               ["user_id", "event_type"])
    assert d.count() == ev.select("user_id", "event_type").distinct().count()


def test_streaming_windowed_agg(spark, tmp_path):
    """End-to-end streaming aggregation: file stream → watermarked
    tumbling window → memory sink."""
    import datetime as dt

    from env_event_stream_spark.storage.event_store import (
        EVENT_SCHEMA,
        make_event,
    )

    path = str(tmp_path / "evts")
    rows = [
        make_event("w", "click", timestamp=dt.datetime(2024, 1, 1, 0, m))
        for m in range(30)
    ]
    spark.createDataFrame(rows, EVENT_SCHEMA).write.partitionBy("topic").parquet(path)

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("basePath", path)
        .parquet(path)
    )
    agg = tumbling(
        stream, "timestamp", "10 minutes",
        keys=["type"], aggs=[F.count("*").alias("n")],
        watermark="15 minutes",
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.sql("SELECT * FROM win_out ORDER BY window.start").collect()
    assert [r.n for r in out] == [10, 10, 10]


def test_compaction_reduces_files_keeps_data(pbroker):
    """Small-files mitigation: N single-event appends → N files;
    compact() rewrites the topic partition without changing content."""
    import os

    for i in range(12):
        pbroker.publish("ct", "e", {"i": i})
    store = pbroker.store
    part = os.path.join(store.path, "topic=ct")
    files_before = [f for f in os.listdir(part) if f.endswith(".parquet")]
    assert len(files_before) >= 12
    before_rows = sorted(r.id for r in store.get_events("ct").collect())

    removed = store.compact("ct")
    assert removed > 0
    files_after = [f for f in os.listdir(part) if f.endswith(".parquet")]
    assert len(files_after) == 1
    after_rows = sorted(r.id for r in store.get_events("ct").collect())
    assert after_rows == before_rows


def test_topic_scan_prunes_partitions(pbroker):
    """Topic equality must prune at the partition level (the
    reference's per-topic dirs/indexes as layout, SURVEY §4)."""
    pbroker.publish("pa", "e", {"n": 1})
    pbroker.publish("pb", "e", {"n": 2})
    df = pbroker.store.get_events("pa")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(topic" in plan or "topic#" in plan.split(
        "PartitionFilters: ["
    )[1].split("]")[0]


def test_stream_shuffle_parts_scoped_and_restored(spark, sf_dir):
    """The availableNow runner scopes shuffle partitions, checkpoint
    checksums and the checkpoint file manager for its run and MUST
    restore the session values after — a leaked override would
    silently shrink every later batch query's parallelism (or change
    how a later durable stream checkpoints). An unset file manager
    must be unset again, not pinned to the default class."""
    from env_event_stream_spark import streaming_queries as SQ

    key = "spark.sql.shuffle.partitions"
    ck = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    fm = "spark.sql.streaming.checkpointFileManagerClass"
    before = {k: spark.conf.get(k, None) for k in (key, ck, fm)}
    seen = {}

    from contextlib import contextmanager

    orig = SQ._stream_shuffle_parts

    @contextmanager
    def spy(s):
        with orig(s):
            seen.update({k: s.conf.get(k, None) for k in (key, ck, fm)})
            yield

    SQ._stream_shuffle_parts = spy
    try:
        SQ.evt_stream_tumbling_counts(spark, sf_dir).count()
    finally:
        SQ._stream_shuffle_parts = orig
    assert seen == {
        key: SQ._STREAM_PARTS,
        ck: SQ._CKPT_CHECKSUM,
        fm: SQ._CKPT_FM,
    }
    assert {k: spark.conf.get(k, None) for k in (key, ck, fm)} == before


def _small_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(40).selectExpr("id % 4 AS k", "id").write.parquet(src)
    return spark.readStream.schema("k bigint, id bigint").parquet(src)


def _ckpt_dirs(prefix):
    return glob.glob(os.path.join(tempfile.gettempdir(), f"{prefix}_ckpt_*"))


def test_available_now_runner_removes_checkpoint_dirs(spark, tmp_path):
    """The runner deletes each stream's checkpoint tmpdir once the run
    ends and keeps the sink dirs, which callers read after it
    returns."""
    from env_event_stream_spark.streaming_queries import _run_available_now

    ev = _small_stream(spark, tmp_path)
    sinks = _run_available_now(
        "complete",
        (ev.groupBy("k").count(), "leakprobe_a"),
        (ev.groupBy("k").agg(F.sum("id").alias("s")), "leakprobe_b"),
    )
    assert _ckpt_dirs("leakprobe_a") + _ckpt_dirs("leakprobe_b") == []
    assert sorted(map(tuple, spark.read.parquet(sinks[0]).collect())) == [
        (k, 10) for k in range(4)
    ]
    assert spark.read.parquet(sinks[1]).count() == 4


def test_available_now_runner_timeout_stops_and_cleans(
    spark, tmp_path, monkeypatch
):
    """Fault injection: a stream that does not finish in time raises
    TimeoutError, is stopped, and its checkpoint dir is removed."""
    from pyspark.sql.streaming.query import StreamingQuery

    from env_event_stream_spark.streaming_queries import _run_available_now

    monkeypatch.setattr(
        StreamingQuery, "awaitTermination", lambda self, timeout=None: False
    )
    ev = _small_stream(spark, tmp_path)
    active = {q.id for q in spark.streams.active}
    with pytest.raises(TimeoutError, match="leakprobe_t"):
        _run_available_now("update", (ev, "leakprobe_t"))
    assert _ckpt_dirs("leakprobe_t") == []
    assert {q.id for q in spark.streams.active} == active
