"""Checkpointed broker subscriptions: a cursor over each topic's write
sequence (``_seq``). Every row is delivered once, across restarts,
handler failures and rewrites of the topic; the lag is counted from the
files' footers."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from env_event_stream_spark.storage import event_store
from env_event_stream_spark.streaming import EventBroker, SubscriptionOptions
from env_event_stream_spark.streaming import broker as broker_mod


@pytest.fixture()
def pbroker(spark, tmp_path):
    return EventBroker(spark, str(tmp_path / "broker"))


def _subscribe(b, topic, ckpt, seen, **kw):
    """A subscription recording ``(epoch, id)`` per delivered row, run
    to its end."""
    sid = b.subscribe_streaming(
        topic, lambda df, epoch: seen.extend((epoch, r.id) for r in df.collect()),
        SubscriptionOptions(name=f"{topic}-sub"), checkpoint=str(ckpt), **kw)
    b.subscriptions[sid].query.awaitTermination(60)
    return sid


def _catch_up(b, sid):
    b.resume(sid)
    b.subscriptions[sid].query.awaitTermination(60)
    b.pause(sid)


def test_structured_streaming_checkpoint_raises(spark, pbroker, tmp_path):
    """A checkpoint written by Spark's file source (``sources/``,
    ``metadata``) is refused with a pointer to a fresh one, instead of
    failing inside Spark or being misread."""
    pbroker.publish("a", "x", {"i": 1})
    ckpt = str(tmp_path / "old")
    part_dir = pbroker.store._part_dir("a")
    schema = T.StructType([f for f in event_store.EVENT_SCHEMA if f.name != "topic"])
    q = (spark.readStream.schema(schema).parquet(part_dir).writeStream
         .foreachBatch(lambda df, epoch: None).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    assert os.path.isdir(os.path.join(ckpt, "sources"))
    with pytest.raises(ValueError, match="fresh checkpoint"):
        pbroker.subscribe_streaming("a", checkpoint=ckpt, handler=lambda e: None)


@pytest.mark.parametrize("rewrite", ["compact", "forget_subject", "retention_cut"])
def test_rewrite_does_not_redeliver(pbroker, tmp_path, rewrite):
    """5 events, a rewrite of the topic that keeps them (or some of
    them), then a restart: still 5 deliveries, and a later event is the
    only new one."""
    b = pbroker
    b.create_topic("t", max_events=3 if rewrite == "retention_cut" else None)
    if rewrite == "retention_cut":  # one file, so the cut falls inside it
        b.publish_many("t", [("x", {"u": i}, None) for i in range(5)])
    else:  # one file per event
        for i in range(5):
            b.publish("t", "x", {"u": i})
    seen = []
    sid = _subscribe(b, "t", tmp_path / "ckpt", seen)
    b.pause(sid)
    assert len(seen) == 5
    files = set(os.listdir(b.store._part_dir("t")))
    if rewrite == "compact":
        assert b.store.compact("t") == 4
    elif rewrite == "forget_subject":
        assert b.forget_subject("u", 0) == {"events": 1, "dlq": 0}
    else:
        assert b.apply_retention("t") == 2
    assert set(os.listdir(b.store._part_dir("t"))).isdisjoint(files)  # renamed
    _catch_up(b, sid)
    assert len(seen) == 5
    new = b.publish("t", "x", {"u": 9}).event_id
    _catch_up(b, sid)
    assert seen[5:] == [(1, new)]


def test_handler_raise_reruns_logged_range_once(pbroker, tmp_path):
    """A batch whose handler raises stays uncommitted; awaitTermination
    re-raises, and the restart delivers that range as the same epoch,
    once, before anything newer."""
    b = pbroker
    ids = _publish(b, 3)
    calls, seen = [], []

    def handler(df, epoch):
        calls.append(epoch)
        if len(calls) == 1:
            raise RuntimeError("handler down")
        seen.extend((epoch, r.id) for r in df.collect())

    sid = b.subscribe_streaming("t", handler, SubscriptionOptions(name="s"),
                                checkpoint=str(tmp_path / "ckpt"))
    with pytest.raises(RuntimeError, match="handler down"):
        b.subscriptions[sid].query.awaitTermination(60)
    assert not os.path.exists(tmp_path / "ckpt" / "commits" / "0")
    late = b.publish("t", "x", {"i": 9}).event_id
    _catch_up(b, sid)
    assert seen == [(0, i) for i in ids] + [(1, late)]
    _catch_up(b, sid)
    assert calls == [0, 0, 1]


def test_failed_commit_write_reruns_logged_range_once(pbroker, tmp_path, monkeypatch):
    """Fault injection between the offset write and the commit: the
    commit write raises. The restart delivers exactly the logged range
    again, as the same epoch, once."""
    b = pbroker
    ids = _publish(b, 3)
    write = broker_mod._write_json

    def failing(log, epoch, value):
        if log.endswith("commits"):
            raise OSError("disk gone")
        write(log, epoch, value)

    seen = []
    monkeypatch.setattr(broker_mod, "_write_json", failing)
    with pytest.raises(OSError, match="disk gone"):
        _subscribe(b, "t", tmp_path / "ckpt", seen)
    monkeypatch.setattr(broker_mod, "_write_json", write)
    assert seen == [(0, i) for i in ids]
    late = b.publish("t", "x", {"i": 9}).event_id  # not in the logged range
    _catch_up(b, "t-sub")
    assert seen[3:] == [(0, i) for i in ids] + [(1, late)]
    _catch_up(b, "t-sub")
    assert len(seen) == 7


def test_erased_head_is_not_reused_after_restart(spark, pbroker, tmp_path, monkeypatch):
    """Erase the newest event, reopen the store as a new process would
    (no memo), publish once and resume from the same checkpoint: the new
    event is numbered past the erased one, so it is delivered, alone."""
    b = pbroker
    for i in range(3):
        b.publish("t", "x", {"u": i})
    seen = []
    sid = _subscribe(b, "t", tmp_path / "ckpt", seen)
    b.pause(sid)
    assert b.forget_subject("u", 2)["events"] == 1
    monkeypatch.setattr(event_store, "_HEADS", {})
    b2 = EventBroker(spark, b.path)
    new = b2.publish("t", "x", {"u": 3}).event_id
    _subscribe(b2, "t", tmp_path / "ckpt", seen)
    assert len(seen) == 4 and seen[3] == (1, new)


def test_unlinked_file_in_logged_range_is_skipped(pbroker, tmp_path, monkeypatch):
    """Retention unlinks files of a logged, uncommitted range: the
    restart delivers the rows that are left and does not raise, also
    when its listing still names the unlinked files."""
    b = pbroker
    b.create_topic("t", max_events=1)
    ids = _publish(b, 3)
    calls, seen = [], []

    def handler(df, epoch):
        calls.append(epoch)
        if len(calls) == 1:
            raise RuntimeError("handler down")
        seen.extend((epoch, r.id) for r in df.collect())

    sid = b.subscribe_streaming("t", handler, SubscriptionOptions(name="s"),
                                checkpoint=str(tmp_path / "ckpt"))
    with pytest.raises(RuntimeError):
        b.subscriptions[sid].query.awaitTermination(60)
    stale = b.store.files("t")
    assert b.apply_retention("t") == 2
    listings = iter([stale])
    fresh = b.store.files
    monkeypatch.setattr(b.store, "files", lambda topic: next(listings, None) or fresh(topic))
    _catch_up(b, sid)
    assert seen == [(0, ids[-1])]


def test_large_range_takes_spark_path(spark, pbroker, tmp_path, monkeypatch):
    """A range above the session's localRelationThreshold is a Spark
    scan of its files; it delivers the same rows, in the same order, as
    the driver read."""
    b = pbroker
    _publish(b, 4)
    driver = []
    _subscribe(b, "t", tmp_path / "c1", driver)
    reads = []
    read_rows = event_store.read_rows
    monkeypatch.setattr(event_store, "read_rows", lambda *a: reads.append(a) or read_rows(*a))
    key = "spark.sql.execution.arrow.localRelationThreshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "1")
    try:
        scanned = []
        _subscribe(b, "t", tmp_path / "c2", scanned)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert reads == []
    assert scanned == driver and len(driver) == 4


def test_lag_counts_uncommitted_rows(pbroker, tmp_path):
    """5 publishes to a paused subscription read lag 5, and 0 after it
    resumes; a compact that merges committed and uncommitted rows into
    one file does not change it."""
    b = pbroker
    seen = []
    sid = _subscribe(b, "t", tmp_path / "ckpt", seen)
    b.pause(sid)
    assert b.lag(sid) == 0
    _publish(b, 2)
    _catch_up(b, sid)
    _publish(b, 5)
    assert b.lag(sid) == 5
    b.store.compact("t")  # one file straddles the committed offset
    assert b.lag(sid) == 5
    _catch_up(b, sid)
    assert b.lag(sid) == 0 and len(seen) == 7


def test_files_without_seq_and_dataframe_loads(spark, pbroker, tmp_path):
    """Rows of files written before ``_seq`` existed go to epoch 0 only;
    a DataFrame load numbers its rows past every head, so they and a
    later publish are each delivered once."""
    b = pbroker
    legacy = [event_store.make_event("t", "x", event_id=f"old{i}") for i in range(2)]
    spark.createDataFrame(legacy, event_store.EVENT_SCHEMA).write.mode("append") \
        .partitionBy("topic").parquet(b.store.path)
    seen = []
    sid = _subscribe(b, "t", tmp_path / "ckpt", seen)
    b.pause(sid)
    assert sorted(seen) == [(0, "old0"), (0, "old1")]
    first = b.publish("t", "x", {"i": 1}).event_id
    loaded = [event_store.make_event("t", "x", event_id=f"df{i}") for i in range(3)]
    b.store.save_events(spark.createDataFrame(loaded, event_store.EVENT_SCHEMA))
    last = b.publish("t", "x", {"i": 2}).event_id
    _catch_up(b, sid)
    assert seen[2] == (1, first) and seen[6] == (1, last)
    assert sorted(seen[3:6]) == [(1, "df0"), (1, "df1"), (1, "df2")] and len(seen) == 7


def test_handler_jobs_carry_the_callers_job_group(spark, pbroker, tmp_path):
    """The run's thread inherits the starting thread's job group, so a
    tracer keyed on job groups sees the handler's Spark jobs."""
    import uuid

    b = pbroker
    sid = _subscribe(b, "t", tmp_path / "ckpt", [])
    b.pause(sid)
    _publish(b, 2)
    sc = spark.sparkContext
    group = f"catchup-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catch-up")
    try:
        _catch_up(b, sid)  # the handler collects: one job
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 1


def test_concurrent_publishes_and_catch_ups_deliver_each_row_once(pbroker, tmp_path):
    """More publisher threads than cores race repeated catch-ups of one
    subscription, with a short switch interval: every row gets its own
    ``_seq``, and every row is delivered exactly once."""
    import sys
    import threading

    import pyarrow.parquet as pq

    b = pbroker
    seen, published = [], []
    sid = _subscribe(b, "t", tmp_path / "ckpt", seen)
    b.pause(sid)

    def publisher(k):
        for i in range(10):
            published.append(b.publish("t", "x", {"k": k, "i": i}).event_id)

    threads = [threading.Thread(target=publisher, args=(k,)) for k in range(6)]
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        while any(t.is_alive() for t in threads):
            _catch_up(b, sid)
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    _catch_up(b, sid)
    assert len(published) == 60 and sorted(i for _e, i in seen) == sorted(published)
    files = event_store.visible_files(b.store._part_dir("t"))
    seqs = [v for f in files for v in pq.read_table(f, columns=["_seq"]).column(0).to_pylist()]
    assert sorted(seqs) == list(range(1, 61))


def _publish(b, n):
    """``n`` events to topic ``t``, one file each; their ids in publish
    order."""
    return [b.publish("t", "x", {"i": i}).event_id for i in range(n)]
