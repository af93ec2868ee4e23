"""Live keyed state (applyInPandasWithState) + stream-stream joins."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from env_event_stream_spark.sourcing import (
    fold_balance_with_reset,
    init_balance,
    rehydrate_all,
)
from env_event_stream_spark.streaming.joins import enrich_static, interval_join
from env_event_stream_spark.streaming.stateful import live_rehydrate

_SCHEMA = "user_id bigint, ts timestamp, event_id bigint, event_type string, value double"


def _rows(spec):
    return [
        (uid, dt.datetime(2024, 1, 1, h, 0, 0), eid, et, v)
        for (uid, h, eid, et, v) in spec
    ]


def _write_batch(spark, path, spec):
    spark.createDataFrame(_rows(spec), _SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _run_fold(spark, src, ckpt):
    """One availableNow pass; returns {user_id: Row} of emitted state.
    foreachBatch (not memory sink) because it supports checkpoint
    recovery — the restart test depends on it."""
    stream = spark.readStream.schema(_SCHEMA).parquet(src)
    out = live_rehydrate(
        stream,
        "user_id",
        "ts",
        fold_balance_with_reset,
        init_balance,
        state_fields=["balance"],
        state_ddl="balance double",
        output_ddl="user_id bigint, version bigint, balance double",
        tiebreak_col="event_id",
    )
    got: dict = {}

    def sink(df, _epoch):
        for r in df.collect():
            got[r.user_id] = r

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return got


def test_live_rehydrate_accumulates_across_restarts(spark, tmp_path):
    """State persists in the checkpointed store: batch 2 folds ONLY
    its own events onto the recovered state (O(new), not O(history))."""
    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(
        spark,
        src,
        [(1, 9, 1, "credit", 10.0), (1, 10, 2, "credit", 5.0),
         (2, 9, 3, "credit", 7.0)],
    )
    r1 = _run_fold(spark, src, ckpt)
    assert r1[1].version == 2 and r1[1].balance == 15.0
    assert r1[2].version == 1 and r1[2].balance == 7.0

    # batch 2: a signup RESET for user 1 (non-associative transition),
    # plus new credit for user 2
    _write_batch(
        spark, src, [(1, 11, 4, "signup", None), (2, 11, 5, "credit", 3.0)]
    )
    r2 = _run_fold(spark, src, ckpt)
    assert r2[1].version == 3 and r2[1].balance == 0.0
    assert r2[2].version == 2 and r2[2].balance == 10.0


def test_live_rehydrate_matches_batch_rehydrate(spark, tmp_path):
    """Stream (one availableNow pass) and batch fold agree — same
    fold function drives both paths."""
    src = str(tmp_path / "events")
    spec = [
        (1, 9, 1, "credit", 4.0), (1, 10, 2, "signup", None),
        (1, 11, 3, "credit", 2.5), (2, 9, 4, "credit", 1.0),
    ]
    _write_batch(spark, src, spec)
    live = _run_fold(spark, src, str(tmp_path / "ck"))

    batch = {
        r.user_id: r
        for r in rehydrate_all(
            spark.createDataFrame(_rows(spec), _SCHEMA),
            "user_id",
            "ts",
            fold_balance_with_reset,
            init_balance,
            "user_id bigint, version bigint, balance double",
            tiebreak_col="event_id",
        ).collect()
    }
    for uid in (1, 2):
        assert live[uid].version == batch[uid].version
        assert live[uid].balance == batch[uid].balance


def test_interval_join_stream_stream(spark, tmp_path):
    """Watermarked stream-stream interval join: purchase pairs with
    views of the same user within the preceding 2 hours."""
    vdir, pdir = str(tmp_path / "views"), str(tmp_path / "purch")
    vs = "user_id bigint, view_ts timestamp, page string"
    ps = "user_id bigint, buy_ts timestamp, amount double"
    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    spark.createDataFrame(
        [(1, t(9), "a"), (1, t(10, 30), "b"), (2, t(9), "c")], vs
    ).write.mode("append").parquet(vdir)
    spark.createDataFrame(
        [(1, t(11), 99.0), (2, t(15), 5.0)], ps
    ).write.mode("append").parquet(pdir)

    views = spark.readStream.schema(vs).parquet(vdir)
    purchases = spark.readStream.schema(ps).parquet(pdir)
    joined = interval_join(
        purchases,
        views,
        keys=["user_id"],
        left_ts="buy_ts",
        right_ts="view_ts",
        upper="INTERVAL 2 HOURS",
        left_watermark="1 hour",
        right_watermark="1 hour",
    ).select("l.user_id", "buy_ts", "view_ts", "page", "amount")
    q = (
        joined.writeStream.format("memory")
        .queryName("ij")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.user_id, r.page) for r in spark.table("ij").collect()
    )
    # user 1: both views within 2h of the 11:00 purchase;
    # user 2: the 9:00 view is 6h before the 15:00 purchase — excluded
    assert got == [(1, "a"), (1, "b")]


def test_enrich_static_broadcast(spark):
    """Stream-static enrichment shape on batch frames: broadcast hash
    join, no shuffle of the big side."""
    facts = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k bigint, v double"
    )
    dim = spark.createDataFrame([(1, "gold"), (2, "silver")], "k bigint, tier string")
    out = enrich_static(facts, dim, on="k")
    got = {r.k: r.tier for r in out.collect()}
    assert got == {1: "gold", 2: "silver", 3: None}
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()


def test_dedup_within_watermark_across_batches(spark, tmp_path):
    """Streaming exact-dedup semantics across micro-batches:
    an in-watermark duplicate arriving in a later batch is dropped
    (state remembered), and a record older than the watermark horizon
    is discarded as late — bounded state, the only 100 TB-safe mode."""
    import datetime as dt

    from env_event_stream_spark.streaming.windows import dedup_within_watermark

    src = str(tmp_path / "ded_src")
    ckpt = str(tmp_path / "ded_ck")
    schema = "id string, ts timestamp"
    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731

    got: list = []

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        out = dedup_within_watermark(
            stream, ["id"], ts_col="ts", watermark="30 minutes"
        )
        q = (
            out.writeStream.foreachBatch(
                lambda df, _e: got.extend(r.id for r in df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(
        [("A", t(10)), ("B", t(12))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    assert sorted(got) == ["A", "B"]

    # batch 2: duplicate of B (within watermark → dropped), stale A
    # (event-time far behind the 11:30 watermark → dropped as late),
    # and a fresh C (emitted)
    spark.createDataFrame(
        [("B", t(12)), ("A", t(10)), ("C", t(12, 30))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    got.clear()
    run_once()
    assert got == ["C"]


def test_idempotent_sink_skips_replayed_epoch(spark, tmp_path):
    """Effectively-once output: a replayed epoch (same epoch id after
    a simulated failure) must not double-write."""
    from env_event_stream_spark.streaming.sinks import IdempotentBatchSink

    out: list = []
    sink = IdempotentBatchSink(
        str(tmp_path / "commits"), lambda df, e: out.extend(df.collect())
    )
    df = spark.createDataFrame([(1,), (2,)], "x bigint")
    sink(df, 0)
    assert len(out) == 2 and sink.committed(0)
    sink(df, 0)  # replay after "failure"
    assert len(out) == 2  # unchanged
    sink(df, 1)  # next epoch writes normally
    assert len(out) == 4


def test_idempotent_sink_end_to_end(spark, tmp_path):
    """Wired into a real streaming query: rows arrive exactly once in
    the sink across two availableNow runs over a growing source."""
    from env_event_stream_spark.streaming.sinks import IdempotentBatchSink

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")
    seen: list = []
    sink = IdempotentBatchSink(
        str(tmp_path / "commits2"), lambda df, e: seen.extend(r.x for r in df.collect())
    )

    def run():
        q = (
            spark.readStream.schema("x bigint").parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame([(1,), (2,)], "x bigint").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    spark.createDataFrame([(3,)], "x bigint").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    assert sorted(seen) == [1, 2, 3]


def test_interval_join_alias_collision_columns(spark):
    """Column names that collide with the internal l/r aliases resolve
    correctly (DataFrame-object refs, not string alias parsing)."""
    import datetime as dt

    t = lambda h: dt.datetime(2024, 1, 1, h)  # noqa: E731
    left = spark.createDataFrame(
        [(1, t(11), "L")], "l bigint, buy_ts timestamp, r string"
    )
    right = spark.createDataFrame(
        [(1, t(10), "x"), (1, t(5), "old")],
        "l bigint, view_ts timestamp, page string",
    )
    out = interval_join(
        left, right, keys=["l"], left_ts="buy_ts", right_ts="view_ts",
        upper="INTERVAL 2 HOURS",
    )
    rows = out.select("page").collect()
    assert [r.page for r in rows] == ["x"]


def test_funnel_state_accumulates_across_restarts(spark, tmp_path):
    """The streaming funnel's TIMESTAMP state fields survive the
    checkpoint round-trip: batch 2 advances a user's funnel from the
    recovered stage timestamps (a click arriving after restart must
    compare against the t_view persisted in batch 1), and unset
    stages round-trip as null/NaT without corrupting the fold."""
    from env_event_stream_spark.streaming_queries import (
        fold_funnel,
        init_funnel,
    )

    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")

    def run(src, ckpt):
        stream = spark.readStream.schema(_SCHEMA).parquet(src)
        out = live_rehydrate(
            stream.select("user_id", "ts", "event_id", "event_type"),
            "user_id",
            "ts",
            fold_funnel,
            init_funnel,
            state_fields=["t_view", "t_click", "t_purchase"],
            state_ddl=(
                "t_view timestamp, t_click timestamp, t_purchase timestamp"
            ),
            output_ddl=(
                "user_id bigint, version bigint, t_view timestamp, "
                "t_click timestamp, t_purchase timestamp"
            ),
            tiebreak_col="event_id",
        )
        got: dict = {}

        def sink(df, _epoch):
            for r in df.collect():
                got[r.user_id] = r

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return got

    # batch 1: user 1 views at 9; user 2 clicks at 9 (no view — stays
    # at stage 0 with all-null state through the checkpoint)
    _write_batch(
        spark, src,
        [(1, 9, 1, "view", None), (2, 9, 2, "click", None)],
    )
    r1 = run(src, ckpt)
    assert r1[1].t_view == dt.datetime(2024, 1, 1, 9, 0, 0)
    assert r1[1].t_click is None and r1[1].t_purchase is None
    assert r1[2].t_view is None

    # batch 2: user 1 clicks at 10 (must qualify vs RECOVERED t_view),
    # then purchases at 11; user 2 views at 10 (click at 9 must NOT
    # retroactively qualify — it was folded before the view)
    _write_batch(
        spark, src,
        [(1, 10, 3, "click", None), (1, 11, 4, "purchase", None),
         (2, 10, 5, "view", None)],
    )
    r2 = run(src, ckpt)
    assert r2[1].t_view == dt.datetime(2024, 1, 1, 9, 0, 0)
    assert r2[1].t_click == dt.datetime(2024, 1, 1, 10, 0, 0)
    assert r2[1].t_purchase == dt.datetime(2024, 1, 1, 11, 0, 0)
    assert r2[2].t_view == dt.datetime(2024, 1, 1, 10, 0, 0)
    assert r2[2].t_click is None


def test_session_window_merges_across_micro_batches(spark, sf_dir, tmp_path):
    """Cross-batch session merging: feed the events table one file at
    a time (maxFilesPerTrigger=1 over a 3-file copy, so sessions that
    span the file split must MERGE across micro-batches) and require
    the streaming complete-mode result to equal the batch
    session_window answer row-for-row."""
    from env_event_stream_spark.streaming_queries import (
        _run_available_now,
        session_stream_agg,
    )
    from env_event_stream_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    src = str(tmp_path / "split_events")
    # split WITHOUT ordering so each file holds an arbitrary slice —
    # the merge path, not the happy append path
    ev.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    (sink,) = _run_available_now(
        "complete", (session_stream_agg(stream), "sessw_mb")
    )
    got = spark.read.parquet(sink)

    batch = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 4)
            .cast("double")
            .alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )
    g = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert len(g) > 0
    assert g == b


def test_stream_mg_superset_across_micro_batches(spark, sf_dir, tmp_path):
    """Streaming Misra-Gries: feed the documents table one file at a
    time (3-file split) so the MG state must fold across
    micro-batches, then require (a) the latest-epoch survivor union
    to be a SUPERSET of every exact phi=1/500 heavy hitter, and (b)
    the broadcast recount over the survivors to reproduce the exact
    full-groupBy answer row-for-row."""
    from env_event_stream_spark.functions.text import tokens
    from env_event_stream_spark.streaming_queries import (
        _run_available_now,
        stream_mg_candidates,
    )
    from env_event_stream_spark.tables import load_table

    phi_inverse = 500
    d = load_table(spark, sf_dir, "documents").select("text")
    src = str(tmp_path / "split_docs")
    d.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    toks = stream.select(F.explode(tokens(F.col("text"))).alias("term"))
    out = stream_mg_candidates(toks, n_buckets=8, capacity=phi_inverse)
    (sink_dir,) = _run_available_now("update", (out, "mg_mb"))
    sink = spark.read.parquet(sink_dir)
    mx = sink.groupBy("bucket").agg(F.max("_epoch").alias("_epoch"))
    cand = set(
        r.term
        for r in sink.join(mx, ["bucket", "_epoch"]).select("term").collect()
    )

    occ = d.select(F.explode(tokens(F.col("text"))).alias("term"))
    exact = occ.groupBy("term").agg(F.count("*").alias("freq"))
    n = occ.count()
    hitters = {
        r.term: r.freq
        for r in exact.where(F.col("freq") * phi_inverse > n).collect()
    }
    assert len(hitters) > 0
    missing = set(hitters) - cand
    assert not missing, f"MG survivors lost hitters: {missing}"

    recount = (
        occ.join(
            F.broadcast(spark.createDataFrame([(t,) for t in cand], "term string")),
            "term",
        )
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
        .where(F.col("freq") * phi_inverse > n)
    )
    got = {r.term: r.freq for r in recount.collect()}
    assert got == hitters


def test_attribution_state_accumulates_across_restarts(spark, tmp_path):
    """The streaming attribution fold is ORDER-SENSITIVE (a purchase
    credits the touch folded before it): the recovered last_touch and
    cent counters must drive batch-2 purchases, and a touch-change in
    batch 2 must redirect later credit without disturbing counters
    persisted in batch 1."""
    from env_event_stream_spark.streaming_queries import (
        _ATTR_FIELDS,
        fold_attr,
        init_attr,
    )

    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(_SCHEMA).parquet(src)
        out = live_rehydrate(
            stream.select("user_id", "ts", "event_id", "event_type", "value"),
            "user_id",
            "ts",
            fold_attr,
            init_attr,
            state_fields=["last_touch"] + _ATTR_FIELDS,
            state_ddl="last_touch string, "
            + ", ".join(f"{f} bigint" for f in _ATTR_FIELDS),
            output_ddl="user_id bigint, version bigint, last_touch string, "
            + ", ".join(f"{f} bigint" for f in _ATTR_FIELDS),
            tiebreak_col="event_id",
        )
        got: dict = {}

        def sink(df, _epoch):
            for r in df.collect():
                got[r.user_id] = r

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return got

    # batch 1: view touch, then a 10.55 purchase (credits view);
    # user 2 purchases with NO prior touch -> (none)
    _write_batch(
        spark, src,
        [(1, 9, 1, "view", None), (1, 10, 2, "purchase", 10.55),
         (2, 9, 3, "purchase", 3.33)],
    )
    r1 = run()
    assert r1[1].last_touch == "view"
    assert r1[1].c_view == 1055 and r1[1].n_view == 1
    assert r1[2].c_none == 333 and r1[2].n_none == 1

    # batch 2: click retargets user 1, purchase credits click off the
    # RECOVERED state; view counters from batch 1 must be unchanged
    _write_batch(
        spark, src,
        [(1, 11, 4, "click", None), (1, 12, 5, "purchase", 0.45)],
    )
    r2 = run()
    assert r2[1].last_touch == "click"
    assert r2[1].c_view == 1055 and r2[1].n_view == 1
    assert r2[1].c_click == 45 and r2[1].n_click == 1


def test_stream_hist_counts_merge_across_micro_batches(spark, sf_dir, tmp_path):
    """The streaming histogram's cross-batch merge: feed events one
    file at a time (maxFilesPerTrigger=1 over a 3-way split) and
    require the complete-mode (type, bin) matview to equal the batch
    histogram bit-for-bit, and the finalized p95 to match the batch
    finalization of the batch histogram."""
    from env_event_stream_spark.streaming_queries import (
        _run_available_now,
        hist_bin_stream_agg,
        hist_p95_finalize,
    )
    from env_event_stream_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    mm = ev.groupBy("event_type").agg(
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        ((F.max("value") - F.min("value")) / F.lit(128.0)).alias("w"),
    )
    src = str(tmp_path / "split_events_hist")
    ev.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    (sink,) = _run_available_now(
        "complete", (hist_bin_stream_agg(stream, mm), "histp95_mb")
    )
    got_hist = sorted(map(tuple, spark.read.parquet(sink).collect()))
    batch_hist_df = hist_bin_stream_agg(ev, mm)
    batch_hist = sorted(map(tuple, batch_hist_df.collect()))
    assert got_hist == batch_hist and len(got_hist) > 0

    got_p95 = sorted(
        map(tuple, hist_p95_finalize(spark.read.parquet(sink), mm).collect())
    )
    want_p95 = sorted(map(tuple, hist_p95_finalize(batch_hist_df, mm).collect()))
    assert got_p95 == want_p95


def test_stream_hll_registers_match_batch_across_micro_batches(
    spark, sf_dir, tmp_path
):
    """HLL registers are max-merged state: a maxFilesPerTrigger=1
    replay over an arbitrary 3-way split must leave registers
    bit-equal to the batch sketch."""
    from env_event_stream_spark.operators.sketches import (
        hll_project,
        hll_registers,
    )
    from env_event_stream_spark.streaming_queries import _run_available_now
    from env_event_stream_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    src = str(tmp_path / "split_events_hll")
    ev.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    (sink,) = _run_available_now(
        "complete",
        (
            hll_registers(
                hll_project(stream, F.col("user_id"), ["event_type"]),
                ["event_type"],
            ),
            "hll_mb",
        ),
    )
    got = sorted(map(tuple, spark.read.parquet(sink).collect()))
    want = sorted(
        map(
            tuple,
            hll_registers(
                hll_project(ev, F.col("user_id"), ["event_type"]),
                ["event_type"],
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_stream_cms_cells_match_batch_across_micro_batches(
    spark, sf_dir, tmp_path
):
    """CMS cells are +-merged state: a maxFilesPerTrigger=1 replay
    over a 3-way split must leave the 256 cell counters bit-equal to
    the batch sketch (sum is arrival-order and batch-boundary
    independent)."""
    from env_event_stream_spark.operators.sketches import cms_cells
    from env_event_stream_spark.streaming_queries import _run_available_now
    from env_event_stream_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id")
    src = str(tmp_path / "split_events_cms")
    ev.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    (sink,) = _run_available_now(
        "complete", (cms_cells(stream, F.col("user_id")), "cms_mb")
    )
    got = sorted(map(tuple, spark.read.parquet(sink).collect()))
    want = sorted(map(tuple, cms_cells(ev, F.col("user_id")).collect()))
    assert got == want and len(got) > 0


def test_stream_interval_join_matches_batch_across_micro_batches(
    spark, sf_dir, tmp_path
):
    """Stream-stream interval join parity under forced multi-batch
    replay: purchases and views fed one file at a time must produce
    the same joined pair multiset as the batch range join. The test
    runs UNWATERMARKED (Spark buffers both sides, exact parity by
    construction — matches can span micro-batches); the catalog
    query keeps watermarks, which a single availableNow batch never
    triggers."""
    from env_event_stream_spark.streaming.joins import interval_join
    from env_event_stream_spark.streaming_queries import _run_available_now
    from env_event_stream_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    src = str(tmp_path / "split_events_ivj")
    ev.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def shape(frame):
        p = frame.where(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("pid")
        )
        v = frame.where(F.col("event_type") == "view").select(
            "user_id", F.col("ts").alias("vts")
        )
        return interval_join(
            p, v, keys=["user_id"], left_ts="pts", right_ts="vts"
        ).select(F.col("l.user_id").alias("user_id"), "pts", "pid", "vts")

    (sink,) = _run_available_now("append", (shape(stream), "ivj_mb"))
    got = sorted(map(tuple, spark.read.parquet(sink).collect()))
    want = sorted(map(tuple, shape(ev).collect()))
    assert got == want and len(got) > 0


def test_stream_daily_hll_registers_match_batch_across_micro_batches(
    spark, sf_dir, tmp_path
):
    """Per-(day, bucket) registers are max-merged state: a
    maxFilesPerTrigger=1 replay over a 3-way split must leave the
    day-keyed register table bit-equal to the batch sketch — which is
    why the rolling-WAU matview can share the batch oracle."""
    from env_event_stream_spark.operators.sketches import (
        hll_project,
        hll_registers,
    )
    from env_event_stream_spark.streaming_queries import _run_available_now
    from env_event_stream_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "CAST(ts AS DATE) AS day", "user_id"
    )
    src = str(tmp_path / "split_events_wau")
    ev.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    (sink,) = _run_available_now(
        "complete",
        (
            hll_registers(
                hll_project(stream, F.col("user_id"), ["day"]), ["day"]
            ),
            "wau_mb",
        ),
    )
    got = sorted(map(tuple, spark.read.parquet(sink).collect()))
    want = sorted(
        map(
            tuple,
            hll_registers(
                hll_project(ev, F.col("user_id"), ["day"]), ["day"]
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_stream_kmv_state_matches_batch_across_micro_batches(
    spark, sf_dir, tmp_path
):
    """KMV state merges as 'k smallest of the union' — replay a 3-way
    split one file at a time (maxFilesPerTrigger=1) through the SAME
    kmv_stream_state the catalog query uses; the latest per-type
    (sk_n, h_k) must equal the batch sketch built in one pass. This
    exercises the cross-batch path (state restore, union with prior
    k-smallest, re-truncation) that a single-file availableNow run
    never enters."""
    from env_event_stream_spark.operators.sketches import KMV_K, kmv_hash
    from env_event_stream_spark.streaming_queries import (
        _latest_epoch_rows,
        _run_available_now,
        kmv_stream_state,
    )
    from env_event_stream_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type",
        "CAST(user_id AS STRING) || '@' || "
        "CAST(CAST(ts AS DATE) AS STRING) AS k",
    )
    keyed_batch = ev.select(
        "event_type", kmv_hash(F.col("k")).alias("h")
    )
    src = str(tmp_path / "split_events_kmv")
    keyed_batch.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    (sink,) = _run_available_now(
        "update", (kmv_stream_state(stream), "kmv_mb")
    )
    live = {
        r.event_type: (r.sk_n, r.h_k)
        for r in _latest_epoch_rows(spark, sink, "event_type")
        .select("event_type", "sk_n", "h_k")
        .collect()
    }
    batch = {
        r.event_type: (min(len(r.hs), KMV_K), sorted(r.hs)[: KMV_K][-1])
        for r in keyed_batch.distinct()
        .groupBy("event_type")
        .agg(F.collect_set("h").alias("hs"))
        .collect()
    }
    assert live == batch and len(live) > 0


def test_stream_error_burst_runs_continue_across_batches(spark, tmp_path):
    """The burst detector's run state survives the checkpoint: a
    2-error run from batch 1 is EXTENDED by batch 2's error, and the
    3-in-5-minutes check spans the batch boundary via the recovered
    prev2 timestamp; a slow 3-run in batch 2 alone must NOT flag."""
    import datetime as dt

    from env_event_stream_spark.streaming_queries import (
        stream_error_burst,
    )

    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    schema = (
        "user_id bigint, ts timestamp, event_id bigint,"
        " event_type string, value double"
    )

    def write(spec):
        rows = [
            (uid, dt.datetime(2024, 1, 1, h, m, 0), eid, et, None)
            for (uid, h, m, eid, et) in spec
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        out = stream_error_burst(stream)
        got: dict = {}

        def sink(df, _epoch):
            for r in df.collect():
                got[r.ukey] = r

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return got

    # batch 1: user 1 errors at 9:00 and 9:02 (run of 2, no burst
    # yet); user 2 errors at 9:00 then views at 9:01 (run reset)
    write(
        [(1, 9, 0, 1, "error"), (1, 9, 2, 2, "error"),
         (2, 9, 0, 3, "error"), (2, 9, 1, 4, "view")]
    )
    r1 = run()
    k1, k2 = "1|2024-01-01", "2|2024-01-01"
    assert r1[k1].max_run_len == 2 and r1[k1].burst == 0
    assert r1[k1].n_runs_ge2 == 1
    assert r1[k2].max_run_len == 1 and r1[k2].n_runs_ge2 == 0

    # batch 2: user 1's error at 9:04 extends the RECOVERED run to 3
    # — span vs the error two back (9:00, from checkpointed prev2) is
    # 4 min <= 5 min, so the burst flags across the batch boundary;
    # user 2 runs 3 errors spread over 10 min — long run, NO burst
    write(
        [(1, 9, 4, 5, "error"),
         (2, 9, 30, 6, "error"), (2, 9, 31, 7, "error"),
         (2, 9, 40, 8, "error")]
    )
    r2 = run()
    assert r2[k1].max_run_len == 3 and r2[k1].burst == 1
    assert r2[k1].n_runs_ge2 == 1
    assert r2[k2].max_run_len == 3 and r2[k2].burst == 0
    assert r2[k2].n_runs_ge2 == 1


def test_stream_cep_funnel_anchor_spans_batches(spark, tmp_path):
    """The funnel attempt survives the checkpoint: a view anchored in
    batch 1 converts via batch 2's purchase (span measured across the
    boundary from the recovered anchor ts); an out-of-window purchase
    must NOT convert, and a view after the match re-anchors without
    double-counting."""
    import datetime as dt

    from env_event_stream_spark.streaming_queries import (
        stream_cep_funnel,
    )

    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    schema = (
        "user_id bigint, ts timestamp, event_id bigint,"
        " event_type string, value double"
    )

    def write(spec):
        rows = [
            (uid, dt.datetime(2024, 1, 1, h, m, 0), eid, et, None)
            for (uid, h, m, eid, et) in spec
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        out = stream_cep_funnel(stream)
        got: dict = {}

        def sink(df, _epoch):
            for r in df.collect():
                got[r.ukey] = r

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return got

    # batch 1: user 1 view@9:00 (anchor) + click@9:02 (run alive);
    # user 2 view@9:00 (anchor, will time out)
    write(
        [(1, 9, 0, 1, "view"), (1, 9, 2, 2, "click"),
         (2, 9, 0, 3, "view")]
    )
    r1 = run()
    k1, k2 = "1|2024-01-01", "2|2024-01-01"
    assert r1[k1].n_matches == 0 and r1[k1].n_seq_events == 2
    assert r1[k2].n_matches == 0

    # batch 2: user 1 purchase@9:05 — 5 min from the RECOVERED anchor,
    # inside the 10-min window: match of 3 events, span 300000 ms;
    # the view@9:06 then re-anchors but never converts. user 2
    # purchase@9:30 is 30 min from the anchor — no match.
    write(
        [(1, 9, 5, 4, "purchase"), (1, 9, 6, 5, "view"),
         (2, 9, 30, 6, "purchase")]
    )
    r2 = run()
    assert r2[k1].n_matches == 1
    assert r2[k1].n_matched_events == 3
    assert r2[k1].max_span_us == 300_000_000
    assert r2[k1].n_seq_events == 4
    assert r2[k2].n_matches == 0 and r2[k2].n_seq_events == 2


def test_stream_hw_grid_merges_across_batches(spark, tmp_path):
    """The live daily-count grid must MERGE counts across
    micro-batches (streaming agg state), not recount per batch: a
    type-day split across two appends sums to one cell."""
    import datetime as dt

    from env_event_stream_spark.streaming_queries import (
        hw_grid_stream_agg,
    )

    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    schema = (
        "user_id bigint, ts timestamp, event_id bigint,"
        " event_type string, value double"
    )

    def write(spec):
        rows = [
            (1, dt.datetime(2024, 1, 1 + d, 9, 0, 0), eid, et, None)
            for (d, eid, et) in spec
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        agg = hw_grid_stream_agg(stream)

        def out(df, _epoch):
            df.write.mode("overwrite").parquet(sink)

        q = (
            agg.writeStream.foreachBatch(out)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r.event_type, r.day_idx): r.cnt
            for r in spark.read.parquet(sink).collect()
        }

    write([(0, 1, "view"), (0, 2, "view"), (0, 3, "view")])
    assert run() == {("view", 0): 3}
    write([(0, 4, "view"), (0, 5, "view"), (1, 6, "click")])
    assert run() == {("view", 0): 5, ("click", 1): 1}


def test_stream_cusum_equals_batch(spark, sf_dir):
    """The live CUSUM must reproduce the batch detector row-for-row:
    streaming state is only the count grid (merge = +, exact), so
    the full frame — not just aggregates — must agree."""
    from env_event_stream_spark.forecast_queries import evt_cusum_changepoint
    from env_event_stream_spark.streaming_queries import evt_stream_cusum

    batch = {tuple(r) for r in evt_cusum_changepoint(spark, sf_dir).collect()}
    live = {tuple(r) for r in evt_stream_cusum(spark, sf_dir).collect()}
    assert batch == live
    assert batch, "no daily grid at test sf"


def test_stream_seg_manifest_merges_across_batches(spark, tmp_path):
    """The live segment manifest must MERGE byte/event counts across
    micro-batches: a (type, day) segment split across two appends
    sums to one manifest row with the exact byte total."""
    import datetime as dt

    from env_event_stream_spark.advanced_queries import seg_manifest_agg

    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    schema = (
        "user_id bigint, ts timestamp, event_id bigint,"
        " event_type string, value double, props string"
    )

    def write(spec):
        rows = [
            (1, dt.datetime(2024, 1, 1 + d, 9, 0, 0), eid, et, None, pr)
            for (d, eid, et, pr) in spec
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        agg = seg_manifest_agg(stream)

        def out(df, _epoch):
            df.write.mode("overwrite").parquet(sink)

        q = (
            agg.writeStream.foreachBatch(out)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r.event_type, r.day_idx): (r.seg_bytes, r.n_events)
            for r in spark.read.parquet(sink).collect()
        }

    write([(0, 1, "view", "abcd"), (0, 2, "view", None)])
    assert run() == {("view", 0): (48 + 4 + 48 + 0, 2)}
    write([(0, 3, "view", "xy"), (1, 4, "click", "z")])
    assert run() == {
        ("view", 0): (100 + 48 + 2, 3),
        ("click", 1): (48 + 1, 1),
    }


def test_stream_acf_and_compaction_equal_batch(spark, sf_dir):
    """Live == batch row-for-row for the two new grid-sharing
    matviews (state is only the mergeable grid/manifest; every
    division lives in the shared batch readout)."""
    from env_event_stream_spark.advanced_queries import (
        evt_compaction_plan,
    )
    from env_event_stream_spark.forecast_queries import evt_acf_daily
    from env_event_stream_spark.streaming_queries import (
        evt_stream_acf,
        evt_stream_compaction_plan,
    )

    b1 = {tuple(r) for r in evt_acf_daily(spark, sf_dir).collect()}
    l1 = {tuple(r) for r in evt_stream_acf(spark, sf_dir).collect()}
    assert b1 == l1 and b1
    b2 = {tuple(r) for r in evt_compaction_plan(spark, sf_dir).collect()}
    l2 = {
        tuple(r)
        for r in evt_stream_compaction_plan(spark, sf_dir).collect()
    }
    assert b2 == l2 and b2


def test_stream_spearman_equals_batch(spark, sf_dir):
    """Live == batch row-for-row for the correlation matview."""
    from env_event_stream_spark.forecast_queries import evt_spearman_daily
    from env_event_stream_spark.streaming_queries import (
        evt_stream_spearman,
    )

    b = {tuple(r) for r in evt_spearman_daily(spark, sf_dir).collect()}
    l = {tuple(r) for r in evt_stream_spearman(spark, sf_dir).collect()}
    assert b == l and b


def test_stream_seq_grid_minmax_merges_across_batches(spark, tmp_path):
    """The live session grid must MERGE min/max across micro-batches
    — and stay exact under OUT-OF-ORDER arrival (a later batch
    carrying an earlier timestamp must pull first_ts back)."""
    import datetime as dt

    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    schema = (
        "user_id bigint, ts timestamp, event_id bigint,"
        " event_type string, value double"
    )
    from pyspark.sql import functions as F

    def write(spec):
        rows = [
            (1, dt.datetime(2024, 1, 1, h, m, 0), eid, et, None)
            for (h, m, eid, et) in spec
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        agg = stream.groupBy(
            "user_id",
            F.col("ts").cast("date").alias("day"),
            "event_type",
        ).agg(
            F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
        )

        def out(df, _epoch):
            df.write.mode("overwrite").parquet(sink)

        q = (
            agg.writeStream.foreachBatch(out)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            r.event_type: (r.first_ts.hour, r.last_ts.hour)
            for r in spark.read.parquet(sink).collect()
        }

    write([(10, 0, 1, "view"), (12, 0, 2, "view")])
    assert run() == {"view": (10, 12)}
    # out-of-order: an EARLIER view and a later click arrive next
    write([(8, 0, 3, "view"), (14, 0, 4, "click")])
    assert run() == {"view": (8, 12), "click": (14, 14)}


def test_stream_seq_pairs_equals_batch(spark, sf_dir):
    """Live == batch row-for-row for the sequential-support matview."""
    from env_event_stream_spark.analytics_queries import (
        evt_seq_pair_support,
    )
    from env_event_stream_spark.streaming_queries import (
        evt_stream_seq_pairs,
    )

    b = {tuple(r) for r in evt_seq_pair_support(spark, sf_dir).collect()}
    l = {tuple(r) for r in evt_stream_seq_pairs(spark, sf_dir).collect()}
    assert b == l and b


def test_stream_slo_grid_merges_and_equals_batch(spark, sf_dir, tmp_path):
    """The live hourly error grid must merge counts across
    micro-batches, and the full matview must equal the batch pager
    row-for-row."""
    import datetime as dt

    from env_event_stream_spark.analytics_queries import (
        evt_slo_burn_rate,
        slo_grid_agg,
    )
    from env_event_stream_spark.streaming_queries import (
        evt_stream_slo_burn,
    )

    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    schema = (
        "user_id bigint, ts timestamp, event_id bigint,"
        " event_type string, value double"
    )

    def write(spec):
        rows = [
            # tz-AWARE input: the test asserts a literal UTC hour_idx,
            # and createDataFrame interprets NAIVE datetimes in the
            # process-local tz (hour 9 became 14 under the
            # TZ=America/New_York invariance run)
            (1, dt.datetime(2024, 1, 1, h, 0, 0, tzinfo=dt.timezone.utc), eid, et, None)
            for (h, eid, et) in spec
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        agg = slo_grid_agg(stream)

        def out(df, _epoch):
            df.write.mode("overwrite").parquet(sink)

        q = (
            agg.writeStream.foreachBatch(out)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            r.hour_idx: (r.n_total, r.n_err)
            for r in spark.read.parquet(sink).collect()
        }

    write([(9, 1, "view"), (9, 2, "error")])
    assert run() == {9: (2, 1)}
    write([(9, 3, "error"), (10, 4, "view")])
    assert run() == {9: (3, 2), 10: (1, 0)}

    b = {tuple(r) for r in evt_slo_burn_rate(spark, sf_dir).collect()}
    l = {tuple(r) for r in evt_stream_slo_burn(spark, sf_dir).collect()}
    assert b == l and b


def test_stream_transitions_chain_spans_batches(spark, tmp_path):
    """The per-user Markov chain must CONTINUE across the checkpoint:
    a user's last event type from batch 1 pairs with batch 2's first
    event (the boundary-spanning pair), counts are cumulative (not
    per-batch), and users never cross-contaminate."""
    import datetime as dt

    from env_event_stream_spark.streaming_queries import (
        stream_transitions,
    )

    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    schema = (
        "user_id bigint, ts timestamp, event_id bigint,"
        " event_type string, value double"
    )

    def write(spec):
        rows = [
            (uid, dt.datetime(2024, 1, 1, 9, m, 0), eid, et, None)
            for (uid, m, eid, et) in spec
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        out = stream_transitions(stream)
        got: dict = {}

        def sink(df, _epoch):
            for r in df.collect():
                got[r.bkey] = (r.pair, r.n)

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {pair: n for pair, n in got.values()}

    # batch 1: user 1 view->click (one pair); user 2 view only (no
    # pair yet — the chain is open at 'view')
    write(
        [(1, 0, 1, "view"), (1, 2, 2, "click"), (2, 1, 3, "view")]
    )
    assert run() == {"view|click": 1}

    # batch 2: user 1 click->purchase continues the recovered chain;
    # user 2's purchase pairs with the view RECOVERED from batch 1
    # (the boundary-spanning pair); totals stay cumulative
    write([(1, 5, 4, "purchase"), (2, 6, 5, "purchase")])
    assert run() == {
        "view|click": 1,
        "click|purchase": 1,
        "view|purchase": 1,
    }


def test_stream_transitions_equals_batch(spark, sf_dir):
    """Live == batch row-for-row for the transition-matrix matview
    (the availableNow replay arrives in (ts, event_id) order, so the
    in-order keyed fold reproduces the batch lead() pairs exactly)."""
    from env_event_stream_spark.advanced_queries import (
        evt_transition_matrix,
    )
    from env_event_stream_spark.streaming_queries import (
        evt_stream_transitions,
    )

    b = {tuple(r) for r in evt_transition_matrix(spark, sf_dir).collect()}
    l = {tuple(r) for r in evt_stream_transitions(spark, sf_dir).collect()}
    assert b == l and b


def test_stream_priority_sample_heap_merges_and_never_resurrects(
    spark, tmp_path
):
    """The per-bucket heap must (a) merge across micro-batches, (b)
    evict the displaced event permanently — an evicted row must NOT
    resurrect from an older epoch in the readout — and (c) be
    arrival-order-free: a late high-value event entering in batch 2
    lands in the sample exactly as if it had arrived first."""
    import datetime as dt

    from env_event_stream_spark.analytics_queries import (
        evt_priority_frame,
    )
    from env_event_stream_spark.streaming_queries import (
        stream_priority_sample,
    )

    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    schema = (
        "user_id bigint, ts timestamp, event_id bigint,"
        " event_type string, value double"
    )

    def write(spec):
        rows = [
            (1, dt.datetime(2024, 1, 1, 9, 0, 0), eid, "view", float(v))
            for (eid, v) in spec
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    # keep only bucket-0 events so ONE bucket's k-bounded heap is
    # exercised (global k = 64 would otherwise never evict on a
    # handful of rows): generate candidate ids, pick those hashing
    # to bucket 0
    from pyspark.sql import functions as F

    ids = spark.range(1, 6000).select(
        F.col("id").alias("event_id"),
        F.pmod(F.hash(F.col("id").cast("bigint")), F.lit(64)).alias("b"),
    )
    b0 = [r["event_id"] for r in ids.where("b = 0").head(80)]
    assert len(b0) >= 70

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        out = stream_priority_sample(stream)
        emitted: dict = {}

        def sink(df, epoch):
            for r in df.collect():
                emitted.setdefault(epoch, {})[r.bkey] = r

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        last = max(emitted)
        return {r.event_id: r.priority for r in emitted[last].values()}

    # batch 1: 70 bucket-0 events, LOW values (cents 1..70)
    write([(eid, 0.01 * (i + 1)) for i, eid in enumerate(b0[:70])])
    s1 = run()
    assert len(s1) == 64  # heap capped at k

    # batch 2: 5 HIGH-value latecomers — they must enter, evicting 5
    # low-priority residents; evicted ids must not reappear
    write([(eid, 500.0) for eid in b0[70:75]])
    s2 = run()
    assert len(s2) == 64
    assert set(b0[70:75]) <= set(s2)
    evicted = set(s1) - set(s2)
    assert len(evicted) == 5
    # survivors keep their batch-1 priorities (merge, not recount)
    for eid in set(s1) & set(s2):
        assert s1[eid] == s2[eid]
    # arrival-order-free: the final sample equals the batch frame's
    # top-64 over ALL events written, regardless of arrival split
    bat = evt_priority_frame(spark.read.parquet(src))
    expect = {
        r["event_id"]: r["priority"]
        for r in bat.orderBy(
            F.col("priority").desc(), F.col("event_id").asc()
        )
        .limit(64)
        .collect()
    }
    assert s2 == expect


def test_stream_priority_sample_equals_batch(spark, sf_dir):
    """Live == batch row-for-row for the weighted-sample matview
    (heap union is order-free, so this holds for ANY arrival order,
    not just the in-order availableNow replay)."""
    from env_event_stream_spark.analytics_queries import (
        evt_priority_sample,
    )
    from env_event_stream_spark.streaming_queries import (
        evt_stream_priority_sample,
    )

    b = {tuple(r) for r in evt_priority_sample(spark, sf_dir).collect()}
    l = {
        tuple(r)
        for r in evt_stream_priority_sample(spark, sf_dir).collect()
    }
    assert b == l and b
