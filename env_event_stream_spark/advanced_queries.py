"""Catalog batch 2: scalar/JSON functions, richer TPC-H shapes,
window frames, grouping sets, stream-static join shape, sliding and
built-in session windows, approximate aggregates.

Registered into the shared catalog via the same @query decorator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from env_event_stream_spark.operators import relational as R
from env_event_stream_spark.queries import query
from env_event_stream_spark.tables import load_table, small_model_frame


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# §2.8 scalar surface: JSON payload extraction (F2/F3 — the reference
# JSON-serializes payloads and pulls JSONB paths in Postgres)
# ---------------------------------------------------------------------------


@query(
    "evt_json_extract",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def evt_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction over the payload column (reference
    F2/F3: JSON serialize/parse + JSONB `->>'...'` paths,
    src/deadletter.ts:300-301,368). get_json_object is a codegen'd
    expression — schema-on-read, no Python."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).cast("bigint").alias("max_k"),
    )


# ---------------------------------------------------------------------------
# §2.3/2.6 — TPC-H Q3 shape: 3-way join + agg + ordered top-k
# ---------------------------------------------------------------------------


@query(
    "tpch_q3_shipping",
    """
    SELECT o.o_orderkey,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(12,2)))), 4) AS DOUBLE)
             AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: selective dim filter broadcast into the fact join,
    agg, global top-10 (TakeOrderedAndProject)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cut = "1996-03-15 00:00:00"
    building = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    j = (
        li.where(F.col("l_shipdate") > cut)
        .join(o.where(F.col("o_orderdate") < cut), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(building), F.col("o_custkey") == F.col("c_custkey"))
    )
    # exact DECIMAL revenue: the top-10 cut below ranks on it, so a
    # last-ulp double flip could swap rows 10/11 across engines
    agg = j.groupBy("o_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (1 - F.col("l_discount").cast("decimal(12,2)"))
            ),
            4,
        )
        .cast("double")
        .alias("revenue")
    )
    return R.top_k(
        agg.select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority"),
        [F.col("revenue").desc(), F.col("o_orderkey").asc()],
        10,
    )


# ---------------------------------------------------------------------------
# §2.5 — window frames, dense_rank, ntile
# ---------------------------------------------------------------------------


@query(
    "window_frames_moving",
    """
    SELECT o_custkey, o_orderkey,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / count(*) OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS moving_avg4,
           CAST(dense_rank() OVER (PARTITION BY o_custkey
                 ORDER BY o_orderpriority) AS BIGINT) AS prio_rank,
           CAST(ntile(4) OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile
    FROM orders
    """,
)
def window_frames_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average frame + dense_rank + ntile (§2.5 GAP)."""
    o = _t(spark, sf_dir, "orders")
    w_ord = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w_ord.rowsBetween(-3, 0)
    # avg spelled sum/count with an exact-decimal numerator: engines
    # sum window frames in different orders (running vs segment-tree)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .over(frame)
            .cast("double")
            / F.count("*").over(frame),
            4,
        ).alias("moving_avg4"),
        F.dense_rank()
        .over(Window.partitionBy("o_custkey").orderBy("o_orderpriority"))
        .cast("bigint")
        .alias("prio_rank"),
        F.ntile(4)
        .over(Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey"))
        .cast("bigint")
        .alias("quartile"),
    )


# ---------------------------------------------------------------------------
# §2.4 — GROUPING SETS (SQL API — Catalyst same plan as DataFrame)
# ---------------------------------------------------------------------------


@query(
    "agg_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 4) AS DOUBLE)
             AS total
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL API (registered temp view) —
    demonstrates the SQL entry point produces the same Catalyst plan
    as the DataFrame builders."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 4)
                    AS DOUBLE) AS total
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


# ---------------------------------------------------------------------------
# §2.3 T-shape — stream-static enrichment join (the DLQ-retry lookup:
# find the subscription for each stored event, src/broker.ts:167-180)
# ---------------------------------------------------------------------------


@query(
    "join_subscription_routing",
    """
    WITH subs(subscription, event_type) AS (
      VALUES ('alerts', 'error'), ('billing', 'purchase'), ('growth', 'signup')
    )
    SELECT s.subscription,
           CAST(count(*) AS BIGINT) AS n_events,
           min(e.ts) AS first_ts, max(e.ts) AS last_ts,
           CAST(round(sum(CAST(e.value AS DECIMAL(12,2))), 4) AS DOUBLE)
             AS total_value
    FROM events e JOIN subs s ON e.event_type = s.event_type
    GROUP BY s.subscription
    """,
)
def join_subscription_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static equi-join: the events stream enriched against a
    small static subscriptions dimension (broadcast — zero shuffle on
    the fact side). Batch form here; the streaming twin is
    subscribe_streaming's filtered query."""
    ev = _t(spark, sf_dir, "events")
    subs = small_model_frame(
        spark,
        [("alerts", "error"), ("billing", "purchase"), ("growth", "signup")],
        "subscription string, event_type string",
    )
    return (
        ev.join(F.broadcast(subs), "event_type")
        .groupBy("subscription")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 4)
            .cast("double")
            .alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# §2.9 — sliding window (batch analog of F.window(ts, 2d, 1d)) and
# built-in session_window
# ---------------------------------------------------------------------------


@query(
    "evt_sliding_2d",
    """
    WITH w AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
             event_type, value FROM events
      UNION ALL
      SELECT CAST(date_trunc('day', ts) - INTERVAL 1 DAY AS TIMESTAMP),
             event_type, value FROM events
    )
    SELECT window_start, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(12,2))), 4) AS DOUBLE)
             AS total_value
    FROM w GROUP BY 1, 2
    """,
)
def evt_sliding_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window (2-day windows, 1-day slide) via the
    F.window built-in — each row lands in 2 windows; the oracle
    expands the same assignment as a UNION ALL."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 days", "1 day"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 4)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@query(
    "evt_session_window_builtin",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts)
                       > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(12,2))), 4) AS DOUBLE)
             AS session_value
    FROM sessions GROUP BY user_id, sid
    """,
)
def evt_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in session_window (30-min gap) in batch mode — proves the
    native operator agrees with the lag+cumsum sessionization the
    oracle derives (session_end = last event + gap)."""
    ev = _t(spark, sf_dir, "events")
    return (
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


# ---------------------------------------------------------------------------
# §2.4 — statistics + approximate aggregates
# ---------------------------------------------------------------------------


@query(
    "agg_value_stats",
    """
    SELECT event_type,
           round(stddev_samp(value), 4) AS sd,
           round(var_samp(value), 4) AS variance,
           round(min(value), 4) AS mn,
           round(max(value), 4) AS mx,
           round(quantile_cont(value, 0.5), 4) AS median
    FROM events GROUP BY event_type
    """,
)
def agg_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates incl. exact interpolated median
    (percentile ≡ DuckDB quantile_cont)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 4).alias("sd"),
        F.round(F.var_samp("value"), 4).alias("variance"),
        F.round(F.min("value"), 4).alias("mn"),
        F.round(F.max("value"), 4).alias("mx"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("median"),
    )


@query(
    "agg_approx_sketches",
    """
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS parts_err_ok,
           TRUE AS orders_err_ok,
           TRUE AS median_err_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — the 100 TB path where exact distinct
    counts would shuffle the world: HyperLogLog++ distinct (rsd 0.05),
    GK-sketch quantiles. Sketch VALUES are engine-specific, so the
    driver-checkable contract is the error bound itself: the engine
    computes sketch and exact side by side and emits per-group
    booleans asserting |approx-exact|/exact within bound (10% for
    HLL ≈ 2×rsd; the approx median must sit within the exact p40-p60
    band). The oracle predicts exact counts and TRUE for every bound
    — a sketch regression past its advertised error turns the row red
    at the driver, not just in pytest. Exact twins for values:
    agg_distinct_parts / agg_value_stats."""
    li = _t(spark, sf_dir, "lineitem")
    rel_err = lambda approx, exact: (  # noqa: E731
        F.abs(approx.cast("double") - exact) / exact
    )
    g = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").cast("bigint").alias("exact_parts"),
        F.countDistinct("l_orderkey").cast("bigint").alias("exact_orders"),
        F.approx_count_distinct("l_partkey", 0.05).alias("_ap"),
        F.approx_count_distinct("l_orderkey", 0.05).alias("_ao"),
        F.percentile_approx("l_extendedprice", 0.5).alias("_amed"),
        F.expr("percentile(l_extendedprice, 0.40)").alias("_p40"),
        F.expr("percentile(l_extendedprice, 0.60)").alias("_p60"),
    )
    return g.select(
        "l_returnflag",
        "exact_parts",
        "exact_orders",
        (rel_err(F.col("_ap"), F.col("exact_parts")) <= 0.10).alias(
            "parts_err_ok"
        ),
        (rel_err(F.col("_ao"), F.col("exact_orders")) <= 0.10).alias(
            "orders_err_ok"
        ),
        F.col("_amed").between(F.col("_p40"), F.col("_p60")).alias(
            "median_err_ok"
        ),
    )


# ---------------------------------------------------------------------------
# §2.7 — unpivot / melt
# ---------------------------------------------------------------------------


@query(
    "unpivot_lineitem_metrics",
    """
    SELECT l_orderkey, l_linenumber, 'extendedprice' AS metric,
           round(l_extendedprice, 4) AS val
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'quantity', round(l_quantity, 4)
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', round(l_discount, 4)
    FROM lineitem WHERE l_orderkey < 100
    """,
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt (wide→long) via the native unpivot operator; the
    oracle expresses the same reshape as UNION ALL."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 100)
    out = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").alias("extendedprice"),
        F.col("l_quantity").alias("quantity"),
        F.col("l_discount").alias("discount"),
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["extendedprice", "quantity", "discount"],
        "metric",
        "val",
    )
    return out.withColumn("val", F.round("val", 4))


@query(
    "evt_gap_fill_daily",
    """
    WITH bounds AS (
      SELECT CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS d0,
             CAST(date_trunc('day', max(ts)) AS TIMESTAMP) AS d1
      FROM events),
    days AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
             FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    grid AS (SELECT day, event_type FROM days CROSS JOIN types),
    agg AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
             count(*) AS n, sum(CAST(value AS DECIMAL(12,2))) AS sv
      FROM events GROUP BY 1, 2)
    SELECT g.day, g.event_type,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n,
           CAST(round(coalesce(a.sv, 0), 4) AS DOUBLE) AS total_value
    FROM grid g LEFT JOIN agg a ON g.day = a.day AND g.event_type = a.event_type
    """,
)
def evt_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill (hypertable-style rollup): a dense
    day × event_type grid (sequence + explode over the observed
    bounds, cross-joined with the type dim) LEFT-joined onto the
    aggregated facts; missing cells surface as zeros. The grid is
    generated, never materialized from the fact table — at 100 TB the
    dense calendar is days × types rows (tiny) and the fact table
    still shuffles exactly once for its aggregation."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("sv"),
    )
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    days = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    types = ev.select("event_type").distinct()
    grid = days.crossJoin(F.broadcast(types))
    out = grid.join(agg, ["day", "event_type"], "left")
    return out.select(
        "day",
        "event_type",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
        F.round(F.coalesce(F.col("sv"), F.lit(0)), 4)
        .cast("double")
        .alias("total_value"),
    )


@query(
    "agg_median_modal",
    """
    WITH pc AS (SELECT o_orderstatus, o_orderpriority, count(*) AS n
                FROM orders GROUP BY 1, 2),
    modal AS (
      SELECT o_orderstatus, o_orderpriority AS modal_priority
      FROM (SELECT pc.*, row_number() OVER (PARTITION BY o_orderstatus
                      ORDER BY n DESC, o_orderpriority ASC) AS rn FROM pc)
      WHERE rn = 1)
    SELECT o.o_orderstatus,
           round(median(o.o_totalprice), 4) AS med_price,
           m.modal_priority,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o JOIN modal m ON o.o_orderstatus = m.o_orderstatus
    GROUP BY o.o_orderstatus, m.modal_priority
    """,
)
def agg_median_modal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median (exact percentile_cont interpolation, identical in both
    engines) + a DETERMINISTIC mode: the built-in mode() breaks
    frequency ties arbitrarily, so the modal value is computed as
    count-per-value + row_number with an explicit tie-break — same
    answer on any engine, any partitioning."""
    o = _t(spark, sf_dir, "orders")
    pc = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority").asc()
    )
    modal = (
        pc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("modal_priority"))
    )
    return (
        o.join(F.broadcast(modal), "o_orderstatus")
        .groupBy("o_orderstatus", "modal_priority")
        .agg(
            F.round(F.median("o_totalprice"), 4).alias("med_price"),
            F.count("*").cast("bigint").alias("n_orders"),
        )
        .select("o_orderstatus", "med_price", "modal_priority", "n_orders")
    )


@query(
    "doc_char_shingle_counts",
    """
    WITH s AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, length(text) - 3),
               i -> substr(text, i, 5)))) AS g
      FROM documents WHERE length(text) >= 5)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
    FROM s GROUP BY doc_id
    """,
)
def doc_char_shingle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 5-gram shingle cardinality per document — the
    no-whitespace-language fallback of the shingling pipeline
    (functions/text.py:char_shingles), exercised end-to-end."""
    from env_event_stream_spark.functions.text import char_shingles

    d = _t(spark, sf_dir, "documents").where(F.length("text") >= 5)
    return (
        d.select("doc_id", F.explode(char_shingles(F.col("text"), 5)).alias("g"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_grams"))
    )


@query(
    "window_rank_family",
    """
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 4) AS price,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd,
           round(first_value(o_totalprice) OVER w2, 4) AS lo,
           round(last_value(o_totalprice) OVER w2, 4) AS hi,
           round(nth_value(o_totalprice, 2) OVER w2, 4) AS second_lowest
    FROM orders WHERE o_orderkey % 50 = 0
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice, o_orderkey),
           w2 AS (PARTITION BY o_orderstatus
                  ORDER BY o_totalprice, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining §2.5 ranking/analytic family: ntile, percent_rank,
    cume_dist, first/last/nth_value with explicit full-frame bounds
    (last_value under the default frame is a classic silent bug — the
    frame ends at CURRENT ROW)."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 50 == 0)
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    w2 = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 4).alias("price"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.round(F.first("o_totalprice").over(w2), 4).alias("lo"),
        F.round(F.last("o_totalprice").over(w2), 4).alias("hi"),
        F.round(F.nth_value("o_totalprice", 2).over(w2), 4).alias("second_lowest"),
    )


@query(
    "agg_grouping_indicator",
    """
    SELECT r.r_name, n.n_name,
           CAST(grouping(r.r_name) AS BIGINT) AS g_region,
           CAST(grouping(n.n_name) AS BIGINT) AS g_nation,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def agg_grouping_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping() indicator columns distinguish 'NULL because
    subtotal' from 'NULL in the data' — required for any consumer of
    rollup/cube output."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), F.col("n_regionkey") == r.r_regionkey
    )
    return j.rollup("r_name", "n_name").agg(
        F.grouping("r_name").cast("bigint").alias("g_region"),
        F.grouping("n_name").cast("bigint").alias("g_nation"),
        F.count("*").cast("bigint").alias("n_customers"),
    )


@query(
    "evt_props_key_freq",
    """
    WITH k AS (SELECT unnest(list_sort(json_keys(props))) AS key
               FROM events WHERE props IS NOT NULL)
    SELECT key, CAST(count(*) AS BIGINT) AS n
    FROM k GROUP BY key
    """,
)
def evt_props_key_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-function surface (§2.8 GAP): parse the JSON props column to
    a map, explode sorted keys, count — schema-on-read discovery of
    payload shapes (the reference stores payloads as opaque JSONB,
    src/persistence.ts:276)."""
    ev = _t(spark, sf_dir, "events").where(F.col("props").isNotNull())
    m = F.from_json("props", "map<string,string>")
    return (
        ev.select(F.explode(F.array_sort(F.map_keys(m))).alias("key"))
        .groupBy("key")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


@query(
    "evt_props_kv_udtf",
    """
    WITH k AS (SELECT event_id, unnest(json_keys(props)) AS key, props
               FROM events WHERE props IS NOT NULL)
    SELECT event_id, key,
           json_extract_string(props, '$.' || key) AS value
    FROM k
    """,
)
def evt_props_kv_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF under the oracle gate: LATERAL json_kv(props)
    flattens each JSON payload into (key, value) rows via the
    registered table function (functions/udtfs.py) — the reference's
    JSONB-path access generalized to arbitrary keys, executed as an
    arrow-batched Python UDTF and hash-checked against DuckDB's
    json_keys/json_extract."""
    from env_event_stream_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    ev = _t(spark, sf_dir, "events").where(F.col("props").isNotNull())
    ev.createOrReplaceTempView("_ev_props")
    return spark.sql(
        "SELECT event_id, t.key, t.value "
        "FROM _ev_props, LATERAL json_kv(props) t"
    )


@query(
    "doc_stopword_stem_freq",
    r"""
    WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS tk
               FROM documents),
    w AS (SELECT unnest(tk) AS w FROM t),
    f AS (SELECT w FROM w
          WHERE NOT list_contains(['the', 'a', 'of', 'and', 'is'], w)),
    s AS (SELECT regexp_replace(w, '(ing|ed|es|s)$', '') AS stem FROM f)
    SELECT stem, CAST(count(*) AS BIGINT) AS n
    FROM s WHERE stem <> ''
    GROUP BY stem ORDER BY n DESC, stem ASC LIMIT 30
    """,
)
def doc_stopword_stem_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword removal + suffix-strip stemming + stem frequency —
    the lightweight normalize stage of a text pipeline, all codegen'd
    (explode → filter → regexp_replace → grouped count)."""
    from env_event_stream_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    w = d.select(F.explode(tokens(F.col("text"))).alias("w")).where(
        ~F.col("w").isin("the", "a", "of", "and", "is")
    )
    s = w.select(F.regexp_replace("w", r"(ing|ed|es|s)$", "").alias("stem"))
    return (
        s.where(F.col("stem") != "")
        .groupBy("stem")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("stem").asc())
        .limit(30)
    )


@query(
    "dq_validation_checks",
    """
    SELECT 'orders_null_custkey' AS check_name,
           CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
             AS violations,
           CAST(count(*) AS BIGINT) AS n_checked
    FROM orders
    UNION ALL
    SELECT 'orders_nonpositive_price',
           CAST(count(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem_discount_range',
           CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1)
                AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders_orphan_custkey',
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT),
           CAST((SELECT count(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'events_ts_bounds',
           CAST(count(*) FILTER (WHERE ts < TIMESTAMP '2020-01-01 00:00:00'
                                    OR ts > TIMESTAMP '2030-01-01 00:00:00')
                AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM events
    """,
)
def dq_validation_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations-style data-quality suite in ONE pass per table:
    null checks, range checks, referential-integrity orphans (anti
    join), timestamp sanity — each as conditional aggregates, so a
    table is scanned once regardless of how many checks it carries
    (the 100 TB discipline: checks are columns, not separate jobs)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    ev = _t(spark, sf_dir, "events")

    def check(df, name, cond):
        return df.agg(
            F.lit(name).alias("check_name"),
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias("violations"),
            F.count("*").cast("bigint").alias("n_checked"),
        ).select("check_name", "violations", "n_checked")

    orphans = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count("*").cast("bigint").alias("violations"))
        .crossJoin(o.agg(F.count("*").cast("bigint").alias("n_checked")))
        .select(
            F.lit("orders_orphan_custkey").alias("check_name"),
            "violations",
            "n_checked",
        )
    )
    return (
        check(o, "orders_null_custkey", F.col("o_custkey").isNull())
        .unionByName(check(o, "orders_nonpositive_price", F.col("o_totalprice") <= 0))
        .unionByName(
            check(li, "lineitem_discount_range",
                  (F.col("l_discount") < 0) | (F.col("l_discount") > 1))
        )
        .unionByName(orphans)
        .unionByName(
            check(ev, "events_ts_bounds",
                  (F.col("ts") < F.lit("2020-01-01").cast("timestamp"))
                  | (F.col("ts") > F.lit("2030-01-01").cast("timestamp")))
        )
    )


@query(
    "evt_funnel_conversion",
    """
    WITH firsts AS (
      SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'view') AS t_view,
             min(ts) FILTER (WHERE event_type = 'click') AS t_click,
             min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
      FROM events GROUP BY user_id),
    flags AS (
      SELECT user_id,
             CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS s1,
             CASE WHEN t_view IS NOT NULL AND t_click > t_view
                  THEN 1 ELSE 0 END AS s2,
             CASE WHEN t_view IS NOT NULL AND t_click > t_view
                       AND t_purchase > t_click
                  THEN 1 ELSE 0 END AS s3
      FROM firsts)
    SELECT CAST(sum(s1) AS BIGINT) AS n_view,
           CAST(sum(s2) AS BIGINT) AS n_view_click,
           CAST(sum(s3) AS BIGINT) AS n_view_click_purchase,
           round(sum(s3) * 1.0 / nullif(sum(s1), 0), 6) AS conversion
    FROM flags
    """,
)
def evt_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): per-user first
    occurrence of each stage via conditional MIN (one grouped pass —
    no joins, no pattern-match state machine needed for
    first-touch funnels), then ordering constraints as flags."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    s1 = F.when(F.col("t_view").isNotNull(), 1).otherwise(0)
    s2 = F.when(
        F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view")), 1
    ).otherwise(0)
    s3 = F.when(
        F.col("t_view").isNotNull()
        & (F.col("t_click") > F.col("t_view"))
        & (F.col("t_purchase") > F.col("t_click")),
        1,
    ).otherwise(0)
    flags = firsts.select(s1.alias("s1"), s2.alias("s2"), s3.alias("s3"))
    return flags.agg(
        F.sum("s1").cast("bigint").alias("n_view"),
        F.sum("s2").cast("bigint").alias("n_view_click"),
        F.sum("s3").cast("bigint").alias("n_view_click_purchase"),
        F.round(
            F.sum("s3") * 1.0 / F.nullif(F.sum("s1"), F.lit(0)), 6
        ).alias("conversion"),
    )


@query(
    "evt_cohort_retention",
    """
    WITH cohort AS (
      SELECT user_id,
             CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS TIMESTAMP) AS act_week
      FROM events)
    SELECT c.cohort_week,
           CAST(date_diff('week', c.cohort_week, a.act_week) AS BIGINT)
             AS week_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users
    FROM cohort c JOIN activity a ON a.user_id = c.user_id
    WHERE date_diff('week', c.cohort_week, a.act_week) <= 4
    GROUP BY c.cohort_week, week_offset
    """,
)
def evt_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: first-seen week per user
    (cohort) × distinct active weeks, offsets 0..4. The cohort week
    AND the distinct-active-week set ride ONE groupBy(user_id)
    shuffle (collect_set partial-aggregates map-side; a user's
    distinct weeks are bounded by the calendar, not event volume) —
    this replaces the former agg + distinct + join shape (3 shuffles)
    with shuffle + tiny rollup."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week"),
        F.collect_set(F.date_trunc("week", F.col("ts"))).alias("weeks"),
    )
    j = per_user.select(
        "user_id", "cohort_week", F.explode("weeks").alias("act_week")
    )
    # weeks are exact 7-day buckets: integer-divide the day gap
    offset = (
        F.datediff(F.col("act_week"), F.col("cohort_week")) / 7
    ).cast("bigint")
    return (
        j.select("user_id", "cohort_week", offset.alias("week_offset"))
        .where(F.col("week_offset") <= 4)
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("bigint").alias("active_users"))
    )


# Shared with the streaming twin evt_stream_transitions (which
# maintains the same matrix as keyed per-user streaming state).
_TRANSITION_ORACLE_SQL = """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events)
    SELECT event_type, next_type,
           CAST(count(*) AS BIGINT) AS n,
           round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY event_type),
                 6) AS p
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """


@query("evt_transition_matrix", _TRANSITION_ORACLE_SQL)
def evt_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lead() pairs each event with its successor (one
    shuffle on user_id), then transition counts normalize to row
    probabilities with a window-over-aggregate. The behavioral-model
    building block for session analytics."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    counts = seq.groupBy("event_type", "next_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    wt = Window.partitionBy("event_type")
    return counts.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(wt), 6).alias("p"),
    )


@query(
    "evt_zscore_outliers",
    """
    WITH stats AS (
      SELECT event_type,
             CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv,
             CAST(sum(CAST(value AS DECIMAL(12,2))
                      * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS ssq,
             count(*) AS n
      FROM events GROUP BY event_type),
    moments AS (
      SELECT event_type, sv / n AS mu,
             sqrt((ssq - sv * sv / n) / (n - 1)) AS sigma
      FROM stats WHERE n > 1)
    SELECT e.event_id, e.event_type, round(e.value, 4) AS value,
           round((e.value - s.mu) / s.sigma, 4) AS zscore
    FROM events e JOIN moments s ON e.event_type = s.event_type
    WHERE s.sigma > 0 AND abs((e.value - s.mu) / s.sigma) > 3
    """,
)
def evt_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score anomaly detection: grouped moments broadcast
    back onto the stream of events; |z| > 3 flags outliers. Two
    passes over the fact (one aggregate, one scan+join) — at 100 TB
    the stats side is type-cardinality rows, always broadcastable.

    The moments are derived from EXACT decimal sums (value and value²
    are 2- and 4-decimal-grained) with the identical double formula on
    both engines: a native stddev_samp's partial-merge order could
    flip the last ulp of sigma and change |z|>3 row membership."""
    ev = _t(spark, sf_dir, "events")
    vdec = F.col("value").cast("decimal(12,2)")
    stats = (
        ev.groupBy("event_type")
        .agg(
            F.sum(vdec).cast("double").alias("sv"),
            F.sum(vdec * vdec).cast("double").alias("ssq"),
            F.count("*").alias("n"),
        )
        .where(F.col("n") > 1)
        .select(
            "event_type",
            (F.col("sv") / F.col("n")).alias("mu"),
            F.sqrt(
                (F.col("ssq") - F.col("sv") * F.col("sv") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("sigma"),
        )
    )
    j = ev.join(F.broadcast(stats), "event_type").where(F.col("sigma") > 0)
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return j.where(F.abs(z) > 3).select(
        "event_id",
        "event_type",
        F.round("value", 4).alias("value"),
        F.round(z, 4).alias("zscore"),
    )


@query(
    "window_top3_value_per_type",
    """
    SELECT * FROM (
      SELECT event_type, event_id, value,
             CAST(row_number() OVER (PARTITION BY event_type
                      ORDER BY value DESC, event_id ASC) AS BIGINT) AS rn
      FROM events
    ) WHERE rn <= 3
    """,
)
def window_top3_value_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type value leaderboard in the FEW-HOT-GROUPS regime (5
    types × millions of rows each at scale) via the map-side-heap
    top-k (operators/relational.py:top_k_per_group_partial): every
    partition forwards at most k rows per type, so the exchange
    carries ≤ k × |types| × partitions rows instead of the whole
    event stream — the per-group analogue of TakeOrderedAndProject's
    partial top-k. Contrast window_top3_orders_per_cust (fine-grained
    groups, where the plain one-shuffle window is the right shape —
    the operator docstring spells out the trade)."""
    from env_event_stream_spark.operators import relational as R

    ev = _t(spark, sf_dir, "events")
    out = R.top_k_per_group_partial(
        ev.select("event_type", "event_id", "value"),
        keys=["event_type"],
        order_col="value",
        k=3,
        descending=True,
        tiebreak="event_id",
    )
    return out.select(
        "event_type", "event_id", "value",
        F.col("rn").cast("bigint").alias("rn"),
    )


# ---------------------------------------------------------------------------
# Iterative graph analytics: integer-exact PageRank over the
# customer↔supplier trade graph (the "who anchors the network" rank).
# ---------------------------------------------------------------------------

_PR_UNIT = 10**12
_PR_ITERS = 3


def _pagerank_oracle() -> str:
    ctes = [
        """e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""",
        """edges AS (
         SELECT 'c:' || CAST(c AS VARCHAR) AS src,
                's:' || CAST(s AS VARCHAR) AS dst FROM e0
         UNION ALL
         SELECT 's:' || CAST(s AS VARCHAR), 'c:' || CAST(c AS VARCHAR)
         FROM e0)""",
        """deg AS (SELECT src, CAST(count(*) AS BIGINT) AS odeg
               FROM edges GROUP BY src)""",
        "n AS (SELECT count(*) AS n FROM deg)",
        f"""r0 AS (SELECT src AS node, odeg,
                  CAST({_PR_UNIT} // n.n AS BIGINT) AS r
               FROM deg CROSS JOIN n)""",
    ]
    prev = "r0"
    for k in range(1, _PR_ITERS + 1):
        ctes.append(
            f"""r{k} AS (
          SELECT deg.src AS node, deg.odeg,
                 CAST((15 * {_PR_UNIT}) // (100 * n.n)
                      + (85 * coalesce(s.total, 0)) // 100 AS BIGINT) AS r
          FROM deg CROSS JOIN n
          LEFT JOIN (SELECT e.dst AS nd,
                            sum({prev}.r // {prev}.odeg) AS total
                     FROM edges e JOIN {prev} ON {prev}.node = e.src
                     GROUP BY e.dst) s
            ON s.nd = deg.src)"""
        )
        prev = f"r{k}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node, odeg, r AS rank_units,
           CAST(row_number() OVER (ORDER BY r DESC, node ASC) AS BIGINT)
             AS pos
    FROM {prev}
    QUALIFY pos <= 20
    """
    )


@query("graph_pagerank_custsupp", _pagerank_oracle())
def graph_pagerank_custsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 fixed iterations) over the
    symmetrized customer↔supplier trade graph (distinct
    orders⋈lineitem pairs), top-20 nodes — the iterative-algorithm
    rung of the catalog next to connected_components.

    INTEGER-EXACT (operators/graph.py:pagerank_int): ranks in 10^12
    micro-units, contributions rank DIV odeg, damping (85·sum) DIV
    100 — bigint sums are order-independent, so a multi-engine
    value-hash holds where double PageRank never would, and re-runs
    are bit-identical on any partitioning. Per iteration: one
    node-keyed join + grouped sum (co-partitioned), localCheckpoint
    lineage truncation; the only driver scalar is the node count.

    r16 (guide §2.3 "narrower types"): the loop runs on BIGINT node
    ids (custkey·2 / suppkey·2+1 — disjoint by parity) instead of the
    'c:<id>'/'s:<id>' strings, which shrinks every per-iteration
    exchange and the checkpointed edge frame ~6x and turns the join
    keys into 8-byte comparisons; the string label is reconstructed
    AFTER the loop, before the top-k (so the node-asc tie-break still
    orders on the string exactly as the oracle does). The edge list is
    distinct by construction (distinct pair set symmetrized over
    disjoint id spaces), so it needs no dedup — a full |E| exchange
    (guide §2.4)."""
    from env_event_stream_spark.operators.graph import pagerank_int

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    e0 = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    ei = e0.select(
        (F.col("o_custkey").cast("bigint") * 2).alias("c"),
        (F.col("l_suppkey").cast("bigint") * 2 + 1).alias("s"),
    )
    edges = ei.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionByName(ei.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    pr = pagerank_int(edges, iterations=_PR_ITERS, unit=_PR_UNIT)
    pr = pr.select(
        F.concat(
            F.when(F.col("node") % 2 == 0, F.lit("c:")).otherwise(F.lit("s:")),
            F.expr("node DIV 2").cast("string"),
        ).alias("node"),
        F.col("deg").alias("odeg"),
        "rank_units",
    )
    # top-20 via TakeOrderedAndProject (per-partition heaps), NOT a
    # row_number over an unpartitioned Window — that would force a
    # single-partition sort over all |V| nodes; pos is then assigned
    # over just the 20 survivors
    order = [F.col("rank_units").desc(), F.col("node").asc()]
    top = R.top_k(pr, order, 20)
    w = Window.orderBy(*order)
    return top.withColumn(
        "pos", F.row_number().over(w).cast("bigint")
    ).select("node", "odeg", "rank_units", "pos")


# ---------------------------------------------------------------------------
# Deterministic probabilistic structures: a hand-rolled HyperLogLog
# and a Bloom-filter join prefilter. Unlike the engine-internal
# sketches (agg_approx_sketches is error-bound-oracled because
# Spark's HLL bytes aren't replayable), these are built from md5 so
# BOTH engines replay them bit-for-bit — the full value-hash oracle
# applies to an approximate structure.
# ---------------------------------------------------------------------------

_HLL_M = 64  # buckets (first 6 md5 bits); ~13% standard error
_POW50 = 1125899906842624.0  # 2^50 — the rho fixed-point scale


def _rho_sql(hexsub: str) -> str:
    """Leading-zero rank of a 60-bit hash suffix via STRING ops only
    (4 bits per stripped hex digit + the first digit's own zeros) —
    no log2/bit_length, so Spark and DuckDB agree exactly."""
    stripped = f"ltrim({hexsub}, '0')"
    return f"""
      CASE WHEN {stripped} = '' THEN 61
           ELSE 4 * (15 - length({stripped}))
                + CASE substr({stripped}, 1, 1)
                    WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                    WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
                    WHEN '7' THEN 1 ELSE 0 END
                + 1 END"""


_HLL_ORACLE = f"""
    WITH h AS (
      SELECT event_type,
             md5(CAST(user_id AS VARCHAR)) AS hx
      FROM events),
    b AS (
      SELECT event_type,
             ('0x' || substr(hx, 1, 2))::BIGINT % {_HLL_M} AS bucket,
             {_rho_sql("substr(hx, 3, 15)")} AS rho
      FROM h),
    mx AS (SELECT event_type, bucket, max(rho) AS mrho
           FROM b GROUP BY 1, 2),
    z AS (
      SELECT event_type,
             CAST(sum(1::BIGINT << (50 - least(mrho, 50))) AS BIGINT)
               + ({_HLL_M} - count(*)) * 1125899906842624 AS z_int,
             {_HLL_M} - count(*) AS v_empty
      FROM mx GROUP BY event_type),
    ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
           FROM events GROUP BY event_type),
    est AS (
      SELECT z.event_type, ex.n_exact, z.v_empty,
             0.7213 / (1.0 + 1.079 / {_HLL_M}.0)
               * {_HLL_M}.0 * {_HLL_M}.0 * {_POW50} / z.z_int AS raw
      FROM z JOIN ex USING (event_type))
    SELECT event_type, CAST(n_exact AS BIGINT) AS n_exact,
           floor((CASE WHEN raw <= 2.5 * {_HLL_M} AND v_empty > 0
                       THEN {_HLL_M}.0 * ln({_HLL_M}.0 / v_empty)
                       ELSE raw END) * 10000 + 0.5) / 10000 AS hll_est,
           floor(((CASE WHEN raw <= 2.5 * {_HLL_M} AND v_empty > 0
                        THEN {_HLL_M}.0 * ln({_HLL_M}.0 / v_empty)
                        ELSE raw END) / n_exact - 1.0) * 10000 + 0.5)
             / 10000 AS rel_err
    FROM est
    """


@query("evt_hll_distinct_users", _HLL_ORACLE)
def evt_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-rolled HyperLogLog (m=64) for distinct users per event
    type, with the exact count and relative error alongside — the
    fully-ORACLED member of the approx-distinct family
    (agg_approx_sketches exercises the engine-internal HLL, whose
    bytes no other engine can replay; this one is md5-derived, so
    DuckDB rebuilds the identical sketch and the value hash holds).

    Determinism the sketch way (operators/sketches.py hll_*): bucket
    maxima (max of integer rho) are order-independent; the harmonic
    sum runs in FIXED-POINT (2^(50-rho) bigints — exact integer
    addition, no float summation), converted to double once. The
    leading-zero rank is computed with string ops (TRIM(LEADING) +
    first-digit case), identical in both engines. State is m
    integers per type — the sketch you'd actually keep per partition
    and merge with max() at 100 TB; the streaming twin
    (evt_stream_hll_users) holds exactly that as live state."""
    from env_event_stream_spark.operators.sketches import (
        hll_estimate,
        hll_project,
        hll_registers,
    )

    ev = _t(spark, sf_dir, "events")
    regs = hll_registers(
        hll_project(ev, F.col("user_id"), ["event_type"]), ["event_type"]
    )
    est = hll_estimate(regs, ["event_type"])
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return est.join(ex, "event_type").select(
        "event_type",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        "hll_est",
        (
            F.floor(
                (F.col("_est_raw") / F.col("n_exact") - F.lit(1.0)) * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("rel_err"),
    )


_BLOOM_BITS = 1024  # 16 x 64-bit words
_MINLONG = -9223372036854775808  # 1<<63 as a signed bigint (both engines)


def _bloom_pos_sql(expr: str, salt: str) -> str:
    return (
        f"('0x' || substr(md5('{salt}' || CAST({expr} AS VARCHAR)), 1, 8))"
        f"::BIGINT % {_BLOOM_BITS}"
    )


@query(
    "join_bloom_prefilter",
    f"""
    WITH build AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'purchase' AND value > 300),
    probe AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
    bpos AS (
      SELECT user_id, {_bloom_pos_sql("user_id", "a:")} AS p
      FROM build
      UNION ALL
      SELECT user_id, {_bloom_pos_sql("user_id", "b:")} AS p
      FROM build),
    words AS (
      SELECT p // 64 AS word,
             bit_or(CASE WHEN p % 64 = 63 THEN {_MINLONG}
                         ELSE (1::BIGINT << (p % 64)) END) AS mask
      FROM bpos GROUP BY p // 64),
    pr AS (
      SELECT user_id,
             {_bloom_pos_sql("user_id", "a:")} AS p1,
             {_bloom_pos_sql("user_id", "b:")} AS p2
      FROM probe),
    checked AS (
      SELECT pr.user_id,
             coalesce((w1.mask >> (p1 % 64)) & 1, 0) = 1
               AND coalesce((w2.mask >> (p2 % 64)) & 1, 0) = 1 AS bloom_pass,
             build.user_id IS NOT NULL AS is_member
      FROM pr
      LEFT JOIN words w1 ON w1.word = p1 // 64
      LEFT JOIN words w2 ON w2.word = p2 // 64
      LEFT JOIN build ON build.user_id = pr.user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_probe,
           CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_members,
           CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bloom_pass,
           CAST(sum(CASE WHEN bloom_pass AND NOT is_member
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(sum(CASE WHEN is_member AND NOT bloom_pass
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_missed,
           floor((sum(CASE WHEN bloom_pass AND NOT is_member
                           THEN 1 ELSE 0 END) * 1.0
                  / count(*)) * 10000 + 0.5) / 10000 AS fp_rate
    FROM checked
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join prefilter, hand-rolled and fully oracled:
    build a 1024-bit / 2-hash filter over the small build side
    (high-value purchasers), probe the click-user stream through it,
    and report pass/false-positive/missed counts — n_missed MUST be
    0 (a Bloom filter never false-negatives), which the oracle now
    proves on real data rather than a unit test asserting it.

    This is the semi-join-pushdown pattern AQE's runtime filters
    automate (and the reference's per-key exists probes approximate):
    at 100 TB you broadcast the 16-word bitmask — 128 BYTES — to
    prefilter the probe scan before any join, then run the exact
    join only on survivors. Determinism: positions are md5-derived;
    the word masks build with bit_or, which is order-independent
    (the same property max gave the HLL); bit 63 is the min-long
    literal because 1<<63 overflows in DuckDB."""
    ev = _t(spark, sf_dir, "events")
    build = (
        ev.where((F.col("event_type") == "purchase") & (F.col("value") > 300))
        .select("user_id")
        .distinct()
    )
    probe = (
        ev.where(F.col("event_type") == "click").select("user_id").distinct()
    )

    def pos(salt: str):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(salt), F.col("user_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % _BLOOM_BITS
        )

    bpos = build.select(pos("a:").alias("p")).unionAll(
        build.select(pos("b:").alias("p"))
    )
    mask_bit = F.when(
        F.col("p") % 64 == 63, F.lit(_MINLONG).cast("bigint")
    ).otherwise(F.expr("shiftleft(1L, int(p % 64))"))
    words = bpos.groupBy(F.expr("p DIV 64").alias("word")).agg(
        F.bit_or(mask_bit).alias("mask")
    )
    pr = probe.select(
        "user_id", pos("a:").alias("p1"), pos("b:").alias("p2")
    )
    w1 = words.select(F.col("word").alias("w1"), F.col("mask").alias("m1"))
    w2 = words.select(F.col("word").alias("w2"), F.col("mask").alias("m2"))
    checked = (
        pr.join(F.broadcast(w1), F.expr("p1 DIV 64") == F.col("w1"), "left")
        .join(F.broadcast(w2), F.expr("p2 DIV 64") == F.col("w2"), "left")
        .join(
            F.broadcast(build.withColumnRenamed("user_id", "b_uid")),
            F.col("user_id") == F.col("b_uid"),
            "left",
        )
        .select(
            (
                (F.coalesce(F.expr("(m1 >> int(p1 % 64)) & 1"), F.lit(0)) == 1)
                & (F.coalesce(F.expr("(m2 >> int(p2 % 64)) & 1"), F.lit(0)) == 1)
            ).alias("bloom_pass"),
            F.col("b_uid").isNotNull().alias("is_member"),
        )
    )
    return checked.agg(
        F.count("*").cast("bigint").alias("n_probe"),
        F.sum(F.when(F.col("is_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_members"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_bloom_pass"),
        F.sum(F.when(F.col("bloom_pass") & ~F.col("is_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_pos"),
        F.sum(F.when(F.col("is_member") & ~F.col("bloom_pass"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_missed"),
        (
            F.floor(
                (
                    F.sum(
                        F.when(
                            F.col("bloom_pass") & ~F.col("is_member"), 1
                        ).otherwise(0)
                    )
                    * F.lit(1.0)
                    / F.count("*")
                )
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("fp_rate"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch point-frequency estimates (operators/sketches.py
# cms_*): the frequency twin of the HLL above — d*w integer cells,
# md5-derived so the ENTIRE sketch (not just an error bound) replays
# in the SQL oracle. Reference has no sketches; this is the
# 100 TB-dashboard extension (SURVEY §2 contract side).
# ---------------------------------------------------------------------------

def _cms_oracle_sql() -> str:
    from env_event_stream_spark.operators.sketches import (
        cms_col_sql,
        cms_oracle_cells_sql,
        cms_salt_values_sql,
    )

    cells = cms_oracle_cells_sql("events", "user_id")
    return f"""
    WITH cells AS ({cells}),
    ex AS (SELECT user_id, count(*) AS n_exact FROM events GROUP BY 1),
    pos AS (
      SELECT u.user_id, s.r,
             {cms_col_sql("u.user_id")} AS col
      FROM (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN (VALUES {cms_salt_values_sql()}) s(r)),
    est AS (
      SELECT p.user_id, min(coalesce(c.cnt, 0)) AS cms_est
      FROM pos p LEFT JOIN cells c ON c.r = p.r AND c.col = p.col
      GROUP BY 1),
    top AS (SELECT user_id, n_exact FROM ex
            ORDER BY n_exact DESC, user_id ASC LIMIT 20)
    SELECT t.user_id,
           CAST(t.n_exact AS BIGINT) AS n_exact,
           CAST(e.cms_est AS BIGINT) AS cms_est,
           CAST(e.cms_est - t.n_exact AS BIGINT) AS overest
    FROM top t JOIN est e USING (user_id)
    """


def _cms_top20_readout(cells: DataFrame, ex: DataFrame) -> DataFrame:
    """Shared batch/streaming finalization: top-20 users by exact
    count with their CMS estimates and overestimate. One definition
    so the 'streaming equals batch' guarantee can't drift at the
    source level (evt_stream_cms_users reuses this verbatim)."""
    from env_event_stream_spark.operators.sketches import cms_point

    w = Window.orderBy(F.col("n_exact").desc(), F.col("user_id").asc())
    top = (
        ex.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 20)
        .drop("_rn")
    )
    est = cms_point(cells, top.select("user_id"), "user_id")
    return top.join(est, "user_id").select(
        "user_id",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.col("cms_est").cast("bigint").alias("cms_est"),
        (F.col("cms_est") - F.col("n_exact")).cast("bigint").alias("overest"),
    )


@query("evt_cms_user_freq", _cms_oracle_sql())
def evt_cms_user_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-count estimates from a Count-Min sketch
    (d=4 x w=64 cells), reported for the top-20 users by exact count
    alongside the exact values — cms_est >= n_exact always (the CMS
    overestimate guarantee), and the overest column SHOWS the
    collision error at w=64 << 150 keys.

    100 TB shape (operators/sketches.cms_cells): the sketch build is
    a map-side 4x projection into ONE partially-aggregated groupBy
    whose exchange carries <= d*w rows per input partition — the
    CMS merge property is Spark's map-side combine. Point lookups
    broadcast the 256-cell table to the key side. The exact top-20
    here is the small-sf accuracy readout (at scale you'd CMS
    precisely because the exact per-key groupBy is the thing being
    avoided); the streaming twin (evt_stream_cms_users) keeps the
    identical cells as live state."""
    from env_event_stream_spark.operators.sketches import cms_cells

    ev = _t(spark, sf_dir, "events")
    cells = cms_cells(ev, F.col("user_id"))
    ex = ev.groupBy("user_id").agg(F.count("*").alias("n_exact"))
    return _cms_top20_readout(cells, ex)


# ---------------------------------------------------------------------------
# KMV distinct sketch with INTERSECTION estimates — the set-operation
# capability HLL lacks (operators/sketches.py kmv_*). Entities are
# user-days, so pairwise overlap between event types is partial and
# the estimator has something real to estimate.
# ---------------------------------------------------------------------------


def _kmv_oracle_sql() -> str:
    from env_event_stream_spark.operators.sketches import (
        KMV_DOMAIN,
        KMV_K,
    )

    scale = (KMV_K - 1) * KMV_DOMAIN  # 127 * 2^60, double-exact
    return f"""
    WITH keyed AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '@'
                 || CAST(CAST(ts AS DATE) AS VARCHAR)), 1, 15))::BIGINT
               AS h
      FROM events),
    sk AS (
      SELECT event_type, h FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h)
                 AS rn
        FROM keyed) q WHERE rn <= {KMV_K}),
    est AS (
      SELECT event_type,
             CASE WHEN count(*) < {KMV_K}
                  THEN CAST(count(*) AS DOUBLE)
                  ELSE floor({scale!r} / max(h) * 10000 + 0.5) / 10000
             END AS kmv_est
      FROM sk GROUP BY 1),
    pairs AS (
      SELECT a.event_type AS t1, b.event_type AS t2
      FROM (SELECT DISTINCT event_type FROM events) a
      JOIN (SELECT DISTINCT event_type FROM events) b
        ON a.event_type < b.event_type),
    uk AS (
      SELECT t1, t2, h FROM (
        SELECT t1, t2, h,
               row_number() OVER (PARTITION BY t1, t2 ORDER BY h) AS rn
        FROM (SELECT DISTINCT p.t1, p.t2, s.h
              FROM pairs p
              JOIN sk s ON s.event_type IN (p.t1, p.t2)) d) q
      WHERE rn <= {KMV_K}),
    bo AS (
      SELECT u.t1, u.t2,
             count(*) AS k_union,
             sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
                      THEN 1 ELSE 0 END) AS n_both,
             max(u.h) AS h_k
      FROM uk u
      LEFT JOIN sk a ON a.event_type = u.t1 AND a.h = u.h
      LEFT JOIN sk b ON b.event_type = u.t2 AND b.h = u.h
      GROUP BY 1, 2),
    exact AS (
      SELECT a.event_type AS t1, b.event_type AS t2,
             count(*) AS n_inter
      FROM (SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS d
            FROM events) a
      JOIN (SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS d
            FROM events) b
        ON a.user_id = b.user_id AND a.d = b.d
       AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT b.t1, b.t2,
           e1.kmv_est AS est_t1, e2.kmv_est AS est_t2,
           CASE WHEN b.k_union < {KMV_K}
                THEN CAST(b.k_union AS DOUBLE)
                ELSE floor({scale!r} / b.h_k * 10000 + 0.5) / 10000
           END AS union_est,
           floor(CAST(b.n_both AS DOUBLE) / b.k_union * 10000 + 0.5)
             / 10000 AS jaccard_kmv,
           CAST(coalesce(x.n_inter, 0) AS BIGINT) AS n_inter_exact
    FROM bo b
    JOIN est e1 ON e1.event_type = b.t1
    JOIN est e2 ON e2.event_type = b.t2
    LEFT JOIN exact x ON x.t1 = b.t1 AND x.t2 = b.t2
    """


@query("evt_kmv_overlap", _kmv_oracle_sql())
def evt_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise active-user-day overlap between event types via KMV
    k-minimum-values sketches (k=128): per-type distinct estimates,
    union estimate from the merged sketch, and a Jaccard estimate
    from membership of the union sketch's survivors in both input
    sketches — the INTERSECTION capability HLL cannot provide (HLL
    registers only union). Exact intersection rides along as the
    accuracy readout.

    100 TB shape: the sketch build is distinct(type, h) then the
    map-side-heap partial top-k (operators/relational.py) — <= k
    rows per group per partition cross the exchange, which IS the
    KMV merge. Everything pairwise happens on 5x128-row sketches
    (broadcast); the corpus is never joined with itself. The exact
    column is the small-sf eval tier, like the ANN recall ladder."""
    from env_event_stream_spark.operators.sketches import (
        KMV_DOMAIN,
        KMV_K,
        kmv_estimate,
        kmv_hash,
        kmv_sketch,
    )

    ev = _t(spark, sf_dir, "events")
    key = F.concat(
        F.col("user_id").cast("string"),
        F.lit("@"),
        F.col("ts").cast("date").cast("string"),
    )
    keyed = ev.select(
        "event_type", kmv_hash(key).alias("h")
    ).distinct()
    # 5x128-row sketch feeds the estimator, the union sketch, and
    # both membership sides — materialize so the corpus-wide
    # distinct+top-k runs exactly once (localCheckpoint, not cache:
    # concurrent stages racing an unpopulated cache each recompute
    # the corpus pass; the eager checkpoint of a 640-row frame is
    # free and guarantees one build)
    sk = (
        kmv_sketch(keyed, ["event_type"])
        .select("event_type", "h")
        .localCheckpoint(eager=True)
    )
    est = kmv_estimate(sk, ["event_type"])

    types = ev.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("t1"))
        .join(
            types.select(F.col("event_type").alias("t2")),
            F.col("t1") < F.col("t2"),
        )
    )
    # union sketch per pair: k smallest of the two sketches' union
    uk_all = pairs.join(
        F.broadcast(sk),
        (F.col("event_type") == F.col("t1"))
        | (F.col("event_type") == F.col("t2")),
    ).select("t1", "t2", "h").distinct()
    wq = Window.partitionBy("t1", "t2").orderBy(F.col("h").asc())
    uk = (
        uk_all.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= KMV_K)
        .drop("rn")
    )
    ska = sk.select(F.col("event_type").alias("_ta"), F.col("h").alias("_ha"))
    skb = sk.select(F.col("event_type").alias("_tb"), F.col("h").alias("_hb"))
    both = (
        uk.join(
            F.broadcast(ska),
            (F.col("_ta") == F.col("t1")) & (F.col("_ha") == F.col("h")),
            "left",
        )
        .join(
            F.broadcast(skb),
            (F.col("_tb") == F.col("t2")) & (F.col("_hb") == F.col("h")),
            "left",
        )
        .groupBy("t1", "t2")
        .agg(
            F.count("*").alias("k_union"),
            F.sum(
                F.when(
                    F.col("_ha").isNotNull() & F.col("_hb").isNotNull(), 1
                ).otherwise(0)
            ).alias("n_both"),
            F.max("h").alias("h_k"),
        )
    )
    # exact intersection (eval tier): distinct (type, user, day)
    # self-join. NOT materialized: the two join-side subtrees are
    # identical, so Spark's ReuseExchange already computes the
    # distinct once (an eager checkpoint here measured 20% SLOWER at
    # sf0.1 — pure serialization overhead for a dedup the optimizer
    # provides for free)
    ud = ev.select(
        "event_type", "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    uda = ud.select(
        F.col("event_type").alias("xa"),
        F.col("user_id").alias("ua"),
        F.col("d").alias("da"),
    )
    udb = ud.select(
        F.col("event_type").alias("xb"),
        F.col("user_id").alias("ub"),
        F.col("d").alias("db"),
    )
    exact = (
        uda.join(
            udb,
            (F.col("ua") == F.col("ub"))
            & (F.col("da") == F.col("db"))
            & (F.col("xa") < F.col("xb")),
        )
        .groupBy(F.col("xa").alias("t1"), F.col("xb").alias("t2"))
        .agg(F.count("*").alias("n_inter_exact"))
    )
    scale = F.lit((KMV_K - 1) * KMV_DOMAIN)
    union_est = F.when(
        F.col("k_union") < KMV_K, F.col("k_union").cast("double")
    ).otherwise(
        F.floor(scale / F.col("h_k") * 10000 + F.lit(0.5)) / 10000
    )
    e1 = est.select(
        F.col("event_type").alias("t1"), F.col("kmv_est").alias("est_t1")
    )
    e2 = est.select(
        F.col("event_type").alias("t2"), F.col("kmv_est").alias("est_t2")
    )
    return (
        both.join(F.broadcast(e1), "t1")
        .join(F.broadcast(e2), "t2")
        # LEFT: a pair with zero exact co-occurrence still has
        # well-defined sketch estimates — an inner join would
        # silently drop its whole row
        .join(exact, ["t1", "t2"], "left")
        .select(
            "t1",
            "t2",
            "est_t1",
            "est_t2",
            union_est.alias("union_est"),
            (
                F.floor(
                    F.col("n_both").cast("double")
                    / F.col("k_union")
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("jaccard_kmv"),
            F.coalesce(F.col("n_inter_exact"), F.lit(0))
            .cast("bigint")
            .alias("n_inter_exact"),
        )
    )


# ---------------------------------------------------------------------------
# One-pass column profiling (the Deequ/"analyze table" operator): per
# column null count, distinct count, numeric min/max/mean — the first
# thing run against any new 100 TB table. Single stack() melt keeps
# it ONE scan + ONE aggregation.
# ---------------------------------------------------------------------------

# (name, kind) — kind drives which stats apply. Timestamps profile
# min/max on epoch-micros (cross-engine string formats differ; micros
# don't); means use exact DECIMAL sums (double sum order diverges).
_PROFILE_COLS: list[tuple[str, str]] = [
    ("l_orderkey", "num"),
    ("l_partkey", "num"),
    ("l_suppkey", "num"),
    ("l_linenumber", "num"),
    ("l_quantity", "num"),
    ("l_extendedprice", "num"),
    ("l_discount", "num"),
    ("l_tax", "num"),
    ("l_returnflag", "str"),
    ("l_linestatus", "str"),
    ("l_shipdate", "ts"),
]


def _profile_oracle_sql() -> str:
    parts = []
    for name, kind in _PROFILE_COLS:
        if kind == "num":
            key = f"CAST({name} AS VARCHAR)"
            num = f"CAST({name} AS DECIMAL(28, 6))"
            mean = "1"
        elif kind == "ts":
            key = f"CAST({name} AS VARCHAR)"
            num = f"CAST(epoch_us({name}) AS DECIMAL(28, 6))"
            mean = "0"
        else:
            key = name
            num = "CAST(NULL AS DECIMAL(28, 6))"
            mean = "0"
        parts.append(
            f"SELECT '{name}' AS col_name, {key} AS k, {num} AS v,"
            f" {mean} AS has_mean,"
            f" {'1' if kind == 'str' else '0'} AS is_str"
            f" FROM lineitem"
        )
    melted = " UNION ALL ".join(parts)
    return f"""
    WITH m AS ({melted}),
    g AS (
      SELECT col_name, k,
             count(*) AS cnt, min(v) AS v,
             max(has_mean) AS has_mean, max(is_str) AS is_str
      FROM m GROUP BY col_name, k)
    SELECT col_name,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN k IS NULL THEN cnt ELSE 0 END) AS BIGINT)
             AS n_null,
           CAST(sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_distinct,
           CAST(min(v) AS DOUBLE) AS min_num,
           CAST(max(v) AS DOUBLE) AS max_num,
           CASE WHEN max(has_mean) = 1
                THEN CAST((CAST(sum(v * cnt) * 1000000 AS BIGINT)
                           + 50 * sum(CASE WHEN v IS NOT NULL
                                           THEN cnt END))
                          // (100 * sum(CASE WHEN v IS NOT NULL
                                             THEN cnt END))
                          AS DOUBLE) / 10000
           END AS mean_num,
           min(CASE WHEN is_str = 1 THEN k END) AS min_str,
           max(CASE WHEN is_str = 1 THEN k END) AS max_str
    FROM g GROUP BY col_name
    """


@query("dq_profile_lineitem", _profile_oracle_sql())
def dq_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile of lineitem (null count, distinct count,
    numeric min/max/mean, lexicographic min/max for strings) — the
    Deequ-style "analyze" pass a pipeline runs before trusting a new
    table, as one query.

    100 TB shape: a single stack() melt (map-side, one scan — NOT
    one pass per column) into one groupBy(col_name). The distinct
    count expands to the standard two-phase (col, value) partial
    distinct, so the per-column hot groups still pre-aggregate
    map-side; means ride exact DECIMAL sums finalized with bigint
    floor-division (order-independent AND tie-free — a double
    division's last ulp flipped the 4dp rounding boundary in the r6
    driver gate); timestamp min/max profile as epoch-micros, which
    agree across engines where formatted strings don't."""
    li = _t(spark, sf_dir, "lineitem")
    triples = []
    for name, kind in _PROFILE_COLS:
        if kind == "num":
            key = f"CAST({name} AS STRING)"
            num = f"CAST({name} AS DECIMAL(28, 6))"
            has_mean, is_str = "1", "0"
        elif kind == "ts":
            key = f"CAST({name} AS STRING)"
            # l_shipdate arrives TIMESTAMP_NTZ; session tz is UTC, so
            # the cast is value-preserving and matches DuckDB epoch_us
            num = (
                f"CAST(unix_micros(CAST({name} AS TIMESTAMP))"
                " AS DECIMAL(28, 6))"
            )
            has_mean, is_str = "0", "0"
        else:
            key = name
            num = "CAST(NULL AS DECIMAL(28, 6))"
            has_mean, is_str = "0", "1"
        triples.append(f"'{name}', {key}, {num}, {has_mean}, {is_str}")
    stack = (
        f"stack({len(_PROFILE_COLS)}, {', '.join(triples)})"
        " AS (col_name, k, v, has_mean, is_str)"
    )
    # spread the scan first (r16): the stack melt + per-value hash
    # agg is the query's entire CPU and lineitem.parquet splits into
    # only as many tasks as it has row groups (3 at sf0.1 — measured
    # 2.2 s of the 2.6 s wall on 3 cores). No-op on a multi-file
    # table; the sub-split exchange carries ~the file size.
    from env_event_stream_spark.tables import spread_small_scan

    # KEPT after the r17 order-reversed probe (VERDICT r16 item 1
    # flagged the driver's +23%): with-spread beat no-spread on every
    # one of 8 interleaved reps (trimmean 1.60 vs 1.86 s, min 1.44 vs
    # 1.70) — the r16 driver delta was noise, and the spread is a
    # no-op on real multi-file tables.
    m = spread_small_scan(li).select(F.expr(stack))
    # EXPLICIT two-phase: first aggregate on (col, value) — map-side
    # combinable, value groups carry their count and (constant)
    # numeric form — then finalize per column. One scan; the implicit
    # countDistinct form makes Catalyst plan distinct and non-distinct
    # aggregates as two scan branches.
    g = m.groupBy("col_name", "k").agg(
        F.count("*").alias("cnt"),
        F.min("v").alias("v"),
        F.max("has_mean").alias("has_mean"),
        F.max("is_str").alias("is_str"),
    )
    return g.groupBy("col_name").agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("k").isNull(), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_null"),
        F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_distinct"),
        F.min("v").cast("double").alias("min_num"),
        F.max("v").cast("double").alias("max_num"),
        # INTEGER-EXACT 4dp mean: v carries 6 decimal places, so
        # sum(v*cnt)*1e6 is an integer; floor(mean*1e4 + 0.5) =
        # (S6 + 50*nn) DIV (100*nn) entirely in bigint — no double
        # division whose last ulp can flip the 4dp rounding boundary
        # across engines (the r6 driver-red on this query).
        # NON-NEGATIVE DOMAIN ASSUMPTION: Spark `div` and DuckDB `//`
        # both truncate toward ZERO, not floor, so the identity only
        # equals floor(mean*1e4 + 0.5) when the numerator is >= 0 —
        # true for every column in _PROFILE_COLS (quantities, prices,
        # keys, dates). If a signed column is ever added, the formula
        # needs the sign-aware adjustment (subtract 1 when the
        # truncated quotient is negative with a nonzero remainder) on
        # BOTH engines; the engines still agree with each other today,
        # so the hash gate would not catch the contract drift.
        # Domain bound made LOUD, not silent: sum(v*cnt)*1e6 must fit
        # int64 (holds comfortably at the oracle SFs; the largest
        # column here crosses 2^63 around TPC-H sf~1) — assert_true
        # fails the query on overflow exactly as DuckDB's HUGEINT->
        # BIGINT cast does on the oracle side, instead of wrapping.
        # (Spark's `div` coerces DECIMAL operands to bigint, so a
        # DECIMAL(38,0) wide path isn't available without losing the
        # exact-floor contract; at a true 100 TB profile this term
        # is the one to re-derive over HUGEINT-capable arithmetic.)
        F.when(
            F.max("has_mean") == 1,
            F.when(
                F.assert_true(
                    F.expr(
                        "CAST(CAST(sum(v * cnt) * 1000000 AS BIGINT)"
                        " AS DECIMAL(38, 0))"
                        " = CAST(sum(v * cnt) * 1000000 AS DECIMAL(38, 0))"
                    ),
                    F.lit("dq_profile mean overflow: sum*1e6 > int64"),
                ).isNull(),
                F.expr(
                    "CAST((CAST(sum(v * cnt) * 1000000 AS BIGINT)"
                    " + 50 * sum(CASE WHEN v IS NOT NULL THEN cnt END))"
                    " div (100 * sum(CASE WHEN v IS NOT NULL THEN cnt END))"
                    " AS DOUBLE)"
                )
                / 10000,
            ),
        ).alias("mean_num"),
        F.min(F.when(F.col("is_str") == 1, F.col("k"))).alias("min_str"),
        F.max(F.when(F.col("is_str") == 1, F.col("k"))).alias("max_str"),
    )


# ---------------------------------------------------------------------------
# Triangle counting with degree orientation (the standard bounded-
# skew plan: Suri & Vassilvitskii, WWW'11) over the co-purchase
# graph. Second graph-analytics entry next to PageRank.
# ---------------------------------------------------------------------------

_TRI_DF_CAP = 25  # parts with more distinct buyers are stop-parts
_TRI_MIN_SHARED = 2  # edge requires >= 2 shared parts


def _copurchase_edge_ctes() -> str:
    """The cp/ok/e CTEs shared by the graph-family oracles."""
    return f"""cp AS (
      SELECT DISTINCT l_partkey AS pk, o_custkey AS ck
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    ok AS (SELECT pk FROM cp GROUP BY pk
           HAVING count(*) <= {_TRI_DF_CAP}),
    e AS (
      SELECT a.ck AS x, b.ck AS y
      FROM cp a JOIN cp b ON a.pk = b.pk AND a.ck < b.ck
      WHERE a.pk IN (SELECT pk FROM ok)
      GROUP BY 1, 2 HAVING count(*) >= {_TRI_MIN_SHARED})"""


def _tri_oracle_sql() -> str:
    return f"""
    WITH {_copurchase_edge_ctes()},
    deg AS (
      SELECT v, count(*) AS d FROM (
        SELECT x AS v FROM e UNION ALL SELECT y AS v FROM e) t
      GROUP BY v),
    oe AS (
      SELECT CASE WHEN dx.d < dy.d OR (dx.d = dy.d AND e.x < e.y)
                  THEN e.x ELSE e.y END AS lo,
             CASE WHEN dx.d < dy.d OR (dx.d = dy.d AND e.x < e.y)
                  THEN e.y ELSE e.x END AS hi,
             CASE WHEN dx.d < dy.d OR (dx.d = dy.d AND e.x < e.y)
                  THEN dy.d ELSE dx.d END AS dhi
      FROM e JOIN deg dx ON dx.v = e.x JOIN deg dy ON dy.v = e.y),
    tri AS (
      SELECT count(*) AS t
      FROM oe e1
      JOIN oe e2 ON e2.lo = e1.lo
       AND (e2.dhi > e1.dhi OR (e2.dhi = e1.dhi AND e2.hi > e1.hi))
      JOIN oe e3 ON e3.lo = e1.hi AND e3.hi = e2.hi),
    wed AS (SELECT sum(d * (d - 1) / 2) AS w FROM deg)
    SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST(w AS BIGINT) AS n_wedges,
           CAST(t AS BIGINT) AS n_triangles,
           floor(3.0 * t * 10000 / w + 0.5) / 10000
             AS clustering_coeff
    FROM tri, wed
    """


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (x, y) co-purchase edge list shared by the graph family
    (triangles, k-core): customers joined when they bought >=
    _TRI_MIN_SHARED shared parts, parts capped at _TRI_DF_CAP
    distinct buyers (the hot-key guard), x < y canonical order,
    localCheckpointed — the edge list is tiny relative to the input
    and every consumer references it repeatedly."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("l_partkey").alias("pk"), F.col("o_custkey").alias("ck"))
        .distinct()
    )
    ok = (
        cp.groupBy("pk")
        .agg(F.count("*").alias("nb"))
        .where(F.col("nb") <= _TRI_DF_CAP)
        .select("pk")
    )
    cpo = cp.join(ok, "pk")
    a = cpo.select("pk", F.col("ck").alias("x"))
    b = cpo.select("pk", F.col("ck").alias("y"))
    return (
        a.join(b, ["pk"])
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= _TRI_MIN_SHARED)
        .select("x", "y")
        # LAZY checkpoint (r16, guide §2.4/§2.6): still truncates the
        # logical plan to one RDD node (the 285-exchange expansion
        # stays dead), but the edge build now pipelines into the
        # caller's single action instead of a synchronous up-front
        # job — consumers that race it at worst wait on the cached
        # block lock. k_core's multi-action loop materializes it on
        # its first probe, same blocks thereafter.
        .localCheckpoint(eager=False)
    )


@query("graph_triangles_copurchase", _tri_oracle_sql())
def graph_triangles_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Global triangle count + clustering coefficient of the
    co-purchase graph (customers joined when they bought >= 2 shared
    parts, parts capped at _TRI_DF_CAP=25 distinct buyers — the same
    hot-shingle df_cap guard the dedup inverted index uses, so edge
    generation is bounded per part).

    100 TB shape (Suri & Vassilvitskii's MR triangle plan): edges
    are ORIENTED from the lower (degree, id) rank to the higher, so
    every wedge is generated at its lowest-rank apex — out-degrees
    are O(sqrt(m))-bounded, which is what keeps the wedge join from
    exploding on hubs (an unoriented wedge join squares the hub
    degree). Wedges close via one self-join on the (hi, hi) edge
    key. Orientation ranks come from one degree aggregation; the
    global count is a single-row result."""
    # shared, checkpointed edge list (see _copurchase_edges: without
    # materialization Catalyst expands each reference into its own
    # copy of the join+distinct+pair-gen subtree — the lint once
    # counted 285 exchanges in the expanded tree)
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("x").alias("v"))
        .unionAll(e.select(F.col("y").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    # r17 probe, REJECTED: a lazy checkpoint on deg (it is re-derived
    # 4x: dx/dy/wed/stats) measured a wash-to-worse (median 3.84 vs
    # 3.67 s over 6 order-rotated reps) — exchange reuse already
    # dedupes the one real shuffle and the post-shuffle agg replays
    # are |V|-sized. Left un-checkpointed.
    # orientation by DIRECT (degree, id) tuple comparison — no global
    # row_number (a single-partition sort over |V| nodes would be the
    # one non-scalable stage in the plan); the total order is the
    # same, so wedge/closure semantics are unchanged
    dx = deg.select(F.col("v").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("v").alias("y"), F.col("d").alias("dy"))
    x_first = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    oe = (
        e.join(dx, "x")
        .join(dy, "y")
        .select(
            F.when(x_first, F.col("x")).otherwise(F.col("y")).alias("lo"),
            F.when(x_first, F.col("y")).otherwise(F.col("x")).alias("hi"),
            F.when(x_first, F.col("dy")).otherwise(F.col("dx")).alias("dhi"),
        )
        # referenced three times by the wedge join — LAZY: lineage
        # truncation without a second synchronous job (see
        # _copurchase_edges)
        .localCheckpoint(eager=False)
    )
    e1 = oe.select(
        F.col("lo").alias("l1"), F.col("hi").alias("h1"), F.col("dhi").alias("dh1")
    )
    e2 = oe.select(
        F.col("lo").alias("l2"), F.col("hi").alias("h2"), F.col("dhi").alias("dh2")
    )
    e3 = oe.select(F.col("lo").alias("l3"), F.col("hi").alias("h3"))
    wedge_ord = (F.col("dh2") > F.col("dh1")) | (
        (F.col("dh2") == F.col("dh1")) & (F.col("h2") > F.col("h1"))
    )
    tri = (
        e1.join(e2, (F.col("l2") == F.col("l1")) & wedge_ord)
        .join(
            e3,
            (F.col("l3") == F.col("h1")) & (F.col("h3") == F.col("h2")),
        )
        .agg(F.count("*").alias("t"))
    )
    wed = deg.agg(
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("bigint")).alias("w")
    )
    stats = e.agg(F.count("*").alias("n_edges")).crossJoin(
        deg.agg(F.count("*").alias("n_nodes"))
    )
    return (
        tri.crossJoin(wed)
        .crossJoin(stats)
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("w").cast("bigint").alias("n_wedges"),
            F.col("t").cast("bigint").alias("n_triangles"),
            (
                F.floor(
                    F.lit(3.0) * F.col("t") * 10000 / F.col("w")
                    + F.lit(0.5)
                )
                / 10000
            ).alias("clustering_coeff"),
        )
    )


# ---------------------------------------------------------------------------
# Association rules over (user, day) baskets — the market-basket
# operator (support / confidence / lift for event-type pairs).
# ---------------------------------------------------------------------------


def _assoc_oracle_sql() -> str:
    return """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
      FROM events),
    nb AS (SELECT count(*) AS n FROM
           (SELECT DISTINCT user_id, d FROM ud) t),
    singles AS (
      SELECT event_type, count(*) AS n_t FROM ud GROUP BY 1),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n_ab
      FROM ud a JOIN ud b
        ON a.user_id = b.user_id AND a.d = b.d
       AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT p.ta, p.tb,
           CAST(p.n_ab AS BIGINT) AS n_ab,
           floor(CAST(p.n_ab AS DOUBLE) / nb.n * 10000 + 0.5) / 10000
             AS support,
           floor(CAST(p.n_ab AS DOUBLE) / sa.n_t * 10000 + 0.5) / 10000
             AS conf_a_b,
           floor(CAST(p.n_ab AS DOUBLE) / sb.n_t * 10000 + 0.5) / 10000
             AS conf_b_a,
           floor(CAST(p.n_ab AS DOUBLE) * nb.n / sa.n_t / sb.n_t
                 * 10000 + 0.5) / 10000 AS lift
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.ta
    JOIN singles sb ON sb.event_type = p.tb
    CROSS JOIN nb
    """


@query("evt_assoc_rules", _assoc_oracle_sql())
def evt_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules between event types, baskets =
    (user, day): pair support, both conditional confidences, and
    lift (observed co-occurrence / independence expectation) — the
    'users who X also Y' analytics primitive.

    100 TB shape: pair generation is a within-basket self-join whose
    fan-out is bounded by basket cardinality (here <= |event types|;
    with an unbounded item domain you'd add the same per-basket cap
    the dedup inverted index uses for hot shingles). One shuffle on
    the basket key, pair counts map-side combine, and the singleton
    table joined back is |types| rows — broadcast. Lift uses exact
    integer counts with one double division chain, identically
    ordered in the oracle."""
    ev = _t(spark, sf_dir, "events")
    # lazy checkpoint (r16, guide §1.1): the distinct basket-item table
    # feeds FOUR consumers (basket total, single counts, both sides of
    # the pair self-join) — without it the corpus-wide distinct
    # recomputes per reference
    ud = ev.select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        "event_type",
    ).distinct().localCheckpoint(eager=False)
    nb = (
        ud.select("user_id", "d")
        .distinct()
        .agg(F.count("*").alias("n_baskets"))
    )  # 1-row frame, crossJoined below — no driver-side collect
    singles = ud.groupBy("event_type").agg(F.count("*").alias("n_t"))
    a = ud.select("user_id", "d", F.col("event_type").alias("ta"))
    b = ud.select("user_id", "d", F.col("event_type").alias("tb"))
    pairs = (
        a.join(b, ["user_id", "d"])
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count("*").alias("n_ab"))
    )
    sa = singles.select(
        F.col("event_type").alias("ta"), F.col("n_t").alias("n_a")
    )
    sb = singles.select(
        F.col("event_type").alias("tb"), F.col("n_t").alias("n_b")
    )

    def r4(c):
        return F.floor(c * 10000 + F.lit(0.5)) / 10000

    return (
        pairs.join(F.broadcast(sa), "ta")
        .join(F.broadcast(sb), "tb")
        .crossJoin(F.broadcast(nb))
        .select(
            "ta",
            "tb",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            r4(F.col("n_ab").cast("double") / F.col("n_baskets")).alias(
                "support"
            ),
            r4(F.col("n_ab").cast("double") / F.col("n_a")).alias(
                "conf_a_b"
            ),
            r4(F.col("n_ab").cast("double") / F.col("n_b")).alias(
                "conf_b_a"
            ),
            r4(
                F.col("n_ab").cast("double")
                * F.col("n_baskets")
                / F.col("n_a")
                / F.col("n_b")
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# CMS inner-product join-size estimation (AMS/CMS composition): the
# optimizer-style cardinality estimate |A join B on k| from two
# 256-cell sketches — no key ever shuffles.
# ---------------------------------------------------------------------------


def _cms_joinsize_oracle_sql() -> str:
    from env_event_stream_spark.operators.sketches import (
        cms_oracle_cells_sql,
    )

    ca = cms_oracle_cells_sql(
        "(SELECT * FROM events WHERE event_type = 'purchase') ea",
        "user_id",
    )
    cb = cms_oracle_cells_sql(
        "(SELECT * FROM events WHERE event_type = 'view') eb",
        "user_id",
    )
    return f"""
    WITH ca AS ({ca}),
    cb AS ({cb}),
    ip AS (
      SELECT ca.r, sum(ca.cnt * cb.cnt) AS dot
      FROM ca JOIN cb ON ca.r = cb.r AND ca.col = cb.col
      GROUP BY ca.r),
    est AS (SELECT min(dot) AS join_est FROM ip),
    ex AS (
      SELECT sum(a.n * b.n) AS join_exact
      FROM (SELECT user_id, count(*) AS n FROM events
            WHERE event_type = 'purchase' GROUP BY 1) a
      JOIN (SELECT user_id, count(*) AS n FROM events
            WHERE event_type = 'view' GROUP BY 1) b
        ON a.user_id = b.user_id)
    SELECT CAST(ex.join_exact AS BIGINT) AS join_exact,
           CAST(est.join_est AS BIGINT) AS join_est,
           floor((CAST(est.join_est AS DOUBLE) / ex.join_exact - 1.0)
                 * 10000 + 0.5) / 10000 AS rel_overest
    FROM ex, est
    """


def _cms_join_size_readout(
    ca: DataFrame, cb: DataFrame, ev: DataFrame
) -> DataFrame:
    """Shared batch/streaming finalization of the CMS join-size
    estimate: min-over-rows cellwise inner product of the two cell
    tables (columns ca / cb), with the exact purchasesxviews join
    size from ``ev`` as the accuracy readout. One definition so the
    live twin (join_stream_size_cms) cannot drift from the batch
    query at the source level."""
    est = (
        ca.join(cb, ["r", "col"])
        .groupBy("r")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
        .agg(F.min("dot").alias("join_est"))
    )
    a = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("na"))
    )
    b = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.count("*").alias("nb"))
    )
    ex = (
        a.join(b, "user_id")
        .agg(F.sum(F.col("na") * F.col("nb")).alias("join_exact"))
    )
    return ex.crossJoin(est).select(
        F.col("join_exact").cast("bigint").alias("join_exact"),
        F.col("join_est").cast("bigint").alias("join_est"),
        (
            F.floor(
                (
                    F.col("join_est").cast("double") / F.col("join_exact")
                    - F.lit(1.0)
                )
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("rel_overest"),
    )


@query("join_size_cms_estimate", _cms_joinsize_oracle_sql())
def join_size_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from Count-Min sketches: the size
    of purchases-join-views on user_id, estimated as the minimum
    over hash rows of the cellwise inner product of the two sides'
    sketches — min_r sum_c A[r,c]*B[r,c] >= |A join B| always (the
    CMS inner-product guarantee; collisions only add cross terms).
    The exact join size rides along as the accuracy readout.

    This is what a query planner does before choosing a join
    strategy at 100 TB: each side streams once into 256 integer
    cells (map-side combine, nothing keyed ever shuffles), the
    estimate is a 256-row cell join — the sides never meet. The
    exact tier is the thing being avoided: a full key-aligned
    groupBy-join of both sides."""
    from env_event_stream_spark.operators.sketches import cms_cells

    ev = _t(spark, sf_dir, "events")
    ca = cms_cells(
        ev.where(F.col("event_type") == "purchase"), F.col("user_id")
    ).withColumnRenamed("cnt", "ca")
    cb = cms_cells(
        ev.where(F.col("event_type") == "view"), F.col("user_id")
    ).withColumnRenamed("cnt", "cb")
    return _cms_join_size_readout(ca, cb, ev)


# ---------------------------------------------------------------------------
# Robust outlier detection: median/MAD — the z-score family member
# that survives heavy tails (evt_zscore_outliers' mean/stddev are
# themselves dragged by the outliers they hunt).
# ---------------------------------------------------------------------------


@query(
    "evt_mad_outliers",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS m
      FROM events GROUP BY 1),
    dev AS (
      SELECT e.event_type, e.value, med.m,
             abs(e.value - med.m) AS ad
      FROM events e JOIN med USING (event_type)),
    mad AS (
      SELECT event_type, quantile_cont(ad, 0.5) AS mad
      FROM dev GROUP BY 1)
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n,
           floor(max(d.m) * 10000 + 0.5) / 10000 AS median_value,
           floor(max(mad.mad) * 10000 + 0.5) / 10000 AS mad,
           CAST(sum(CASE WHEN d.ad > 3 * 1.4826 * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad ON mad.event_type = d.event_type
    GROUP BY d.event_type
    """,
)
def evt_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier counts via median/MAD (|v - median| >
    3 * 1.4826 * MAD, the normal-consistent robust z threshold) —
    the heavy-tail-safe twin of evt_zscore_outliers, whose mean and
    stddev are themselves dragged by the outliers being hunted.

    Exactness: Spark percentile() and DuckDB quantile_cont are
    bit-identical pre-rounding (pinned by the
    evt_value_percentiles_by_type family), deviations compare
    UNROUNDED medians, and only the displayed columns round. Scale
    shape: two grouped exact percentiles (per-type sort — the exact
    tier; the mergeable-histogram tier is evt_hist_percentiles_
    by_type) with the |types|-row median table broadcast back;
    the outlier flag is row-local."""
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("m")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "value",
        "m",
        F.abs(F.col("value") - F.col("m")).alias("ad"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(ad, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            (F.floor(F.max("m") * 10000 + F.lit(0.5)) / 10000).alias(
                "median_value"
            ),
            (F.floor(F.max("mad") * 10000 + F.lit(0.5)) / 10000).alias(
                "mad"
            ),
            F.sum(
                F.when(
                    F.col("ad") > F.lit(3 * 1.4826) * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling 7-day distinct users via HLL register merge — the
# mergeability payoff applied to TIME: a rolling COUNT DISTINCT
# without ever re-scanning the week, by max-merging 7 daily sketches.
# ---------------------------------------------------------------------------

_WAU_ORACLE = f"""
    WITH dd AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    h AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day,
             md5(CAST(user_id AS VARCHAR)) AS hx
      FROM events),
    b AS (
      SELECT day,
             ('0x' || substr(hx, 1, 2))::BIGINT % {_HLL_M} AS bucket,
             {_rho_sql("substr(hx, 3, 15)")} AS rho
      FROM h),
    dregs AS (SELECT day, bucket, max(rho) AS mrho
              FROM b GROUP BY 1, 2),
    rolled AS (
      SELECT g.day, r.bucket, max(r.mrho) AS mrho
      FROM dd g JOIN dregs r ON r.day BETWEEN g.day - 6 AND g.day
      GROUP BY 1, 2),
    z AS (
      SELECT day,
             CAST(sum(1::BIGINT << (50 - least(mrho, 50))) AS BIGINT)
               + ({_HLL_M} - count(*)) * 1125899906842624 AS z_int,
             {_HLL_M} - count(*) AS v_empty
      FROM rolled GROUP BY day),
    ex AS (
      SELECT g.day, count(DISTINCT u.user_id) AS n_exact
      FROM dd g
      JOIN (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
            FROM events) u
        ON u.day BETWEEN g.day - 6 AND g.day
      GROUP BY 1),
    est AS (
      SELECT z.day, ex.n_exact, z.v_empty,
             0.7213 / (1.0 + 1.079 / {_HLL_M}.0)
               * {_HLL_M}.0 * {_HLL_M}.0 * {_POW50} / z.z_int AS raw
      FROM z JOIN ex USING (day))
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(n_exact AS BIGINT) AS n_exact,
           floor((CASE WHEN raw <= 2.5 * {_HLL_M} AND v_empty > 0
                       THEN {_HLL_M}.0 * ln({_HLL_M}.0 / v_empty)
                       ELSE raw END) * 10000 + 0.5) / 10000 AS wau_est
    FROM est
    """


def _rolling_wau_readout(dregs: DataFrame, ev: DataFrame) -> DataFrame:
    """Shared batch/streaming finalization of the rolling WAU: merge
    the per-(day, bucket) registers over each trailing 7-day window
    (per-bucket max on the calendar grid), estimate, and attach the
    exact rolling distinct from ``ev`` (day, user_id). One
    definition so the live twin (evt_stream_rolling_wau) cannot
    drift from the batch query at the source level."""
    from env_event_stream_spark.operators.sketches import hll_estimate

    days = ev.select("day").distinct()
    g = days.select(F.col("day").alias("gday"))
    in_window = (F.col("day") <= F.col("gday")) & (
        F.col("day") >= F.date_sub(F.col("gday"), 6)
    )
    rolled = (
        g.join(F.broadcast(dregs), in_window)
        .groupBy(F.col("gday").alias("day"), "bucket")
        .agg(F.max("mrho").alias("mrho"))
    )
    est = hll_estimate(rolled, ["day"])
    # exact tier: broadcast the DAY GRID (calendar-sized) against the
    # distinct stream — never the other way around
    ud = ev.distinct()
    ex = (
        ud.join(F.broadcast(g), in_window)
        .groupBy(F.col("gday").alias("day"))
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return est.join(ex, "day").select(
        F.col("day").cast("string").alias("day"),
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.col("hll_est").alias("wau_est"),
    )


@query("evt_rolling_hll_wau", _WAU_ORACLE)
def evt_rolling_hll_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day from MERGED daily HLL
    sketches: each day keeps its 64 max-rho registers; the trailing
    week's estimate is a per-bucket max over the last 7 days'
    registers — no re-scan of the week, no distinct over the window.
    Exact rolling distinct rides along as the accuracy readout
    (evt_rolling_dau's exact machinery is the thing this sketch
    makes O(1)-per-day at scale).

    100 TB shape: raw data is touched ONCE (daily registers,
    map-side max-combine); everything after runs on the
    |days| x 64 calendar grid — the rolling merge is a range join
    of the day grid against register rows, scale-invariant like the
    histogram-percentile trend. This is the dashboard WAU/MAU
    pattern: persist daily registers, merge any window on demand."""
    from env_event_stream_spark.operators.sketches import (
        hll_estimate,
        hll_project,
        hll_registers,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    dregs = hll_registers(
        hll_project(ev, F.col("user_id"), ["day"]), ["day"]
    )
    return _rolling_wau_readout(dregs, ev)


# ---------------------------------------------------------------------------
# Chi-square uniformity test on hour-of-day activity — the
# distribution-test family member next to the point-outlier tests
# (z-score, MAD): "is this event type's traffic actually diurnal, or
# is the heatmap pattern noise?"
# ---------------------------------------------------------------------------

# chi-square critical value, dof=23, alpha=0.05
_CHI2_CRIT = 35.1725


@query(
    "evt_hourly_seasonality",
    f"""
    WITH h AS (
      SELECT event_type, hour(ts) AS hr, count(*) AS cnt
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT event_type,
             sum(cnt) AS n,
             sum(cnt * cnt) AS s2
      FROM h GROUP BY 1),
    pk AS (
      SELECT event_type, hr AS peak_hour, cnt AS peak_cnt
      FROM (SELECT event_type, hr, cnt,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY cnt DESC, hr ASC) AS rn
            FROM h) q WHERE rn = 1)
    SELECT s.event_type,
           CAST(s.n AS BIGINT) AS n,
           CAST(pk.peak_hour AS BIGINT) AS peak_hour,
           CAST(pk.peak_cnt AS BIGINT) AS peak_cnt,
           floor((24.0 * s.s2 / s.n - s.n) * 10000 + 0.5) / 10000
             AS chi2_uniform,
           (24.0 * s.s2 / s.n - s.n) > {_CHI2_CRIT} AS is_nonuniform
    FROM s JOIN pk USING (event_type)
    """,
)
def evt_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality per event type: peak hour and a
    chi-square uniformity test against the flat-traffic null
    (dof=23, alpha=0.05 critical value inlined) — the DISTRIBUTION
    test next to the point-outlier family (z-score/MAD): it answers
    "is this type's diurnal pattern statistically real".

    Exactness trick: the naive chi2 sum Σ(o−e)²/e is a float
    reduction whose order Spark doesn't fix; algebraically it
    collapses to 24·Σo²/n − n, where Σo² is an ORDER-INDEPENDENT
    integer sum (zero-count hours contribute 0 to both forms) — one
    division and one multiply, bit-identical in both engines. One
    (type, hour) pre-aggregation; everything after runs on ≤
    |types|×24 rows."""
    ev = _t(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.hour("ts").alias("hr")
    ).agg(F.count("*").alias("cnt"))
    s = h.groupBy("event_type").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), F.col("hr").asc()
    )
    pk = (
        h.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("hr").alias("peak_hour"),
            F.col("cnt").alias("peak_cnt"),
        )
    )
    chi2 = F.lit(24.0) * F.col("s2") / F.col("n") - F.col("n")
    return s.join(pk, "event_type").select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("peak_hour").cast("bigint").alias("peak_hour"),
        F.col("peak_cnt").cast("bigint").alias("peak_cnt"),
        (F.floor(chi2 * 10000 + F.lit(0.5)) / 10000).alias("chi2_uniform"),
        (chi2 > F.lit(_CHI2_CRIT)).alias("is_nonuniform"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift test: did the value
# distribution SHIFT between the first week and the rest of the
# month? The ML-ops drift-detection primitive (chi2 above tests one
# sample against a fixed null; KS compares two empirical samples).
# ---------------------------------------------------------------------------

_KS_CUTOFF = "2024-01-08 00:00:00"
_KS_ALPHA_C = 1.3581  # c(0.05) for the two-sample KS critical value


@query(
    "evt_value_drift_ks",
    f"""
    WITH tagged AS (
      SELECT event_type, value,
             CASE WHEN ts < TIMESTAMP '{_KS_CUTOFF}' THEN 1 ELSE 0 END
               AS ef
      FROM events WHERE value IS NOT NULL),
    g AS (
      SELECT event_type, value,
             sum(ef) AS ca_d, sum(1 - ef) AS cb_d
      FROM tagged GROUP BY 1, 2),
    c AS (
      SELECT event_type, value,
             sum(ca_d) OVER (PARTITION BY event_type ORDER BY value)
               AS ca,
             sum(cb_d) OVER (PARTITION BY event_type ORDER BY value)
               AS cb
      FROM g),
    n AS (
      SELECT event_type, sum(ca_d) AS na, sum(cb_d) AS nb
      FROM g GROUP BY 1),
    d AS (
      SELECT c.event_type,
             max(abs(c.ca * n.nb - c.cb * n.na)) AS dint
      FROM c JOIN n USING (event_type) GROUP BY 1)
    SELECT d.event_type,
           CAST(n.na AS BIGINT) AS n_early,
           CAST(n.nb AS BIGINT) AS n_late,
           floor(CAST(d.dint AS DOUBLE) / (n.na * n.nb) * 10000 + 0.5)
             / 10000 AS ks_stat,
           CAST(d.dint AS DOUBLE) / (n.na * n.nb)
             > {_KS_ALPHA_C} * sqrt((n.na + n.nb)
                                    / (CAST(n.na AS DOUBLE) * n.nb))
             AS drifted
    FROM d JOIN n USING (event_type)
    """,
)
def evt_value_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test per event type: value
    distribution of the first week vs the rest of the month, with
    the alpha=0.05 large-sample critical value — the data-drift
    detector an ML pipeline runs between training snapshots (the
    chi-square query tests ONE sample against a fixed null; KS
    compares two empirical samples with no distributional
    assumption).

    INTEGER-EXACT core: the ECDF gap at each distinct value is
    |ca*nb - cb*na| over integer cumulative counts — max over an
    integer column, so no float comparison ever decides the
    statistic; the single division happens once at the end. Ties
    are handled correctly by construction (both ECDFs evaluated
    AFTER each distinct value's full mass). One (type, value)
    pre-aggregation, one per-type cumulative window, |types|-row
    output."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    early = F.when(F.col("ts") < F.lit(_KS_CUTOFF).cast("timestamp"), 1).otherwise(0)
    g = ev.select("event_type", "value", early.alias("e")).groupBy(
        "event_type", "value"
    ).agg(
        F.sum("e").alias("ca_d"),
        F.sum(F.lit(1) - F.col("e")).alias("cb_d"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy(F.col("value").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = g.select(
        "event_type",
        F.sum("ca_d").over(wc).alias("ca"),
        F.sum("cb_d").over(wc).alias("cb"),
    )
    n = g.groupBy("event_type").agg(
        F.sum("ca_d").alias("na"), F.sum("cb_d").alias("nb")
    )
    d = (
        c.join(F.broadcast(n), "event_type")
        .groupBy("event_type")
        .agg(
            F.max(
                F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
            ).alias("dint")
        )
    )
    ks = F.col("dint").cast("double") / (F.col("na") * F.col("nb"))
    crit = F.lit(_KS_ALPHA_C) * F.sqrt(
        (F.col("na") + F.col("nb"))
        / (F.col("na").cast("double") * F.col("nb"))
    )
    return d.join(n, "event_type").select(
        "event_type",
        F.col("na").cast("bigint").alias("n_early"),
        F.col("nb").cast("bigint").alias("n_late"),
        (F.floor(ks * 10000 + F.lit(0.5)) / 10000).alias("ks_stat"),
        (ks > crit).alias("drifted"),
    )


# ---------------------------------------------------------------------------
# k-core decomposition (third graph-analytics rung): the density
# ladder of the co-purchase graph — which cohesive buyer groups
# survive as the degree threshold rises.
# ---------------------------------------------------------------------------

_KCORE_KS = (2, 3, 4, 5, 6)


def _kcore_oracle() -> str:
    """Lazy oracle: the edge list is computed by DuckDB with the SAME
    cp/ok/e CTEs as the triangles oracle, then peeled in pure Python
    (Matula-Beck, deliberately independent of the Spark anti-join
    loop), and the per-k core sizes are inlined as VALUES."""
    import duckdb

    from env_event_stream_spark.llm_queries import _oracle_sf_dir

    sf_dir = _oracle_sf_dir().rstrip("/")
    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{sf_dir}/{t}.parquet')"
        )
    edges = con.execute(
        f"WITH {_copurchase_edge_ctes()} SELECT x, y FROM e"
    ).fetchall()
    rows = []
    for k in _KCORE_KS:
        e = set(edges)
        while True:
            deg: dict[int, int] = {}
            for x, y in e:
                deg[x] = deg.get(x, 0) + 1
                deg[y] = deg.get(y, 0) + 1
            bad = {v for v, d in deg.items() if d < k}
            if not bad:
                break
            e = {(x, y) for x, y in e if x not in bad and y not in bad}
        nodes = {v for xy in e for v in xy}
        rows.append((k, len(nodes), len(e)))
    vals = ", ".join(f"({k}, {n}, {m})" for k, n, m in rows)
    return f"""
    SELECT CAST(k AS BIGINT) AS k,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges
    FROM (VALUES {vals}) AS t(k, n_nodes, n_edges)
    """


@query("graph_kcore_copurchase", _kcore_oracle)
def graph_kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core sizes of the co-purchase graph for k = 2..6: peel
    nodes of degree < k to fixpoint (operators/graph.k_core) and
    report surviving nodes/edges per k — the standard graph-density
    ladder (community cores, influence seeding, fraud rings) next to
    PageRank (importance) and triangles (local clustering).

    100 TB shape: each peeling round is one degree aggregation + two
    anti-joins on a SHRINKING checkpointed edge list — no global
    sort, no driver-side graph; rounds = peeling depth. The oracle
    re-derives the edge list in DuckDB (same CTEs as the triangles
    oracle) and peels it in pure Python — an independent
    implementation of the same fixpoint, VALUES-inlined."""
    from env_event_stream_spark.operators.graph import k_core

    e = _copurchase_edges(spark, sf_dir)
    out = []
    core = e
    for k in _KCORE_KS:
        # the (k+1)-core is a subgraph of the k-core: peel each k
        # from the PREVIOUS core, not the full edge list — most of
        # the graph is removed once, at the smallest k; inputs are
        # already checkpointed (_copurchase_edges / the prior core)
        core = k_core(core, k, checkpoint_input=False)
        stats = (
            core.select(F.col("x").alias("v"))
            .unionAll(core.select(F.col("y").alias("v")))
            .agg(
                F.countDistinct("v").alias("n_nodes"),
                (F.count("*") / 2).cast("bigint").alias("n_edges"),
            )
            .select(
                F.lit(k).cast("bigint").alias("k"), "n_nodes", "n_edges"
            )
        )
        out.append(stats)
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


# ---------------------------------------------------------------------------
# Cross-table referential integrity audit — the DQ rung dq_profile
# (single-table stats) and dq_validation (row constraints) don't
# cover: does every foreign key land? First question against any
# newly-landed star-schema drop.
# ---------------------------------------------------------------------------

_RI_CHECKS: list[tuple[str, str, str, str, str, bool]] = [
    # (name, fact table, fk col, dim table, pk col, broadcast_dim)
    # broadcast_dim is a SCALE judgment, not a local-speed one: only
    # dimensions whose cardinality is FIXED regardless of SF (nation
    # = 25 rows, region = 5 rows) may be pinned as broadcast.  Every
    # other table here scales linearly with SF — part is 200k*SF,
    # supplier 10k*SF, customer 150k*SF, orders 1.5M*SF — so at
    # 100 TB each is a multi-GB+ key set and a forced broadcast is an
    # OOM; those edges take the shuffled left-anti join on the key.
    # AQE may still choose a broadcast at tiny SFs, but the plan must
    # not REQUIRE one.
    ("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey", False),
    ("lineitem.partkey->part", "lineitem", "l_partkey", "part", "p_partkey", False),
    ("lineitem.suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey", False),
    ("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey", False),
    ("customer.nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey", True),
    ("supplier.nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey", True),
    ("nation.regionkey->region", "nation", "n_regionkey", "region", "r_regionkey", True),
]


def _ri_oracle() -> str:
    parts = []
    for name, fact, fk, dim, pk, _bcast in _RI_CHECKS:
        parts.append(f"""
    SELECT '{name}' AS fk_name,
           CAST((SELECT count(*) FROM {fact}) AS BIGINT) AS n_rows,
           CAST((SELECT count(*) FROM {fact} f
                 WHERE f.{fk} IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM {dim} d
                                   WHERE d.{pk} = f.{fk})) AS BIGINT)
             AS n_orphans,
           CAST((SELECT count(*) FROM {fact} WHERE {fk} IS NULL)
             AS BIGINT) AS n_null_fk""")
    body = " UNION ALL ".join(parts)
    return f"""
    SELECT fk_name, n_rows, n_orphans, n_null_fk,
           n_orphans = 0 AND n_null_fk = 0 AS ok
    FROM ({body}) t
    """


@query("dq_referential_integrity", _ri_oracle())
def dq_referential_integrity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Referential-integrity audit of the whole star: for each FK
    edge (lineitem->orders/part/supplier, orders->customer,
    customer/supplier->nation, nation->region) the orphan count
    (non-null FK with no matching dimension row, via LEFT ANTI join)
    and the null-FK count, with a per-edge ok verdict — the
    cross-TABLE data-quality rung next to dq_profile (single-table
    stats) and dq_validation_checks (row constraints).

    100 TB shape: each check is ONE fact scan — a LEFT join onto the
    deduped dimension key set followed by a single conditional
    aggregate yielding all three counts (r12 reshape: the old three
    legs — total count, anti-join orphan count, null count — scanned
    the fact 3x per edge; 21 scans across the star became 7, plan
    ex 21 → 14). BOUNDED dimension sides (nation/region) are pinned
    broadcast via the per-edge flag in _RI_CHECKS; fact-scaled
    "dimensions" (orders on the lineitem edge, customer on the orders
    edge) take the shuffled left join on the key — a forced broadcast
    of an orders-sized key set would OOM at 100× even though it is
    fastest locally (AQE is still free to pick broadcast at tiny
    SFs). The dimension side is DISTINCT'd on the key, so a dim with
    duplicated PKs cannot silently inflate n_rows (the audit must not
    assume the integrity it is checking) — and the distinct's hash
    partitioning is exactly what the join needs, so it costs no extra
    exchange. All counts are map-side-combinable; output is |edges|
    rows. Orphans report as data, not as a failure — the audit's job
    is to measure the breakage, not to crash on it."""
    rows = []
    for name, fact, fk, dim, pk, bcast in _RI_CHECKS:
        f = _t(spark, sf_dir, fact)
        d = _t(spark, sf_dir, dim).select(F.col(pk).alias("_pk")).distinct()
        if bcast:
            d = F.broadcast(d)
        j = f.select(F.col(fk).alias("_fk")).join(
            d, F.col("_fk") == F.col("_pk"), "left"
        )
        rows.append(
            j.agg(
                F.lit(name).alias("fk_name"),
                F.count("*").cast("bigint").alias("n_rows"),
                F.count(
                    F.when(
                        F.col("_fk").isNotNull() & F.col("_pk").isNull(),
                        F.lit(1),
                    )
                ).cast("bigint").alias("n_orphans"),
                F.count(F.when(F.col("_fk").isNull(), F.lit(1)))
                .cast("bigint")
                .alias("n_null_fk"),
            )
        )
    res = rows[0]
    for df in rows[1:]:
        res = res.unionByName(df)
    return res.select(
        "fk_name",
        "n_rows",
        "n_orphans",
        "n_null_fk",
        ((F.col("n_orphans") == 0) & (F.col("n_null_fk") == 0)).alias("ok"),
    )


# ---------------------------------------------------------------------------
# DQ rung 4: join-key skew audit — the pre-join scale gate. At 100 TB
# a hot join key IS a straggler shuffle partition; this is the audit
# that tells you which edges need salting (operators/relational.py's
# salted join) or AQE skew handling BEFORE the job runs.
# ---------------------------------------------------------------------------


_SKEW_EDGES = [
    ("orders.o_custkey", "orders", "o_custkey"),
    ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("events.user_id", "events", "user_id"),
    ("events.event_type", "events", "event_type"),
]


def _key_skew_oracle() -> str:
    stacked = "\n      UNION ALL ".join(
        f"SELECT '{edge}' AS edge, CAST({col} AS VARCHAR) AS key FROM {tbl}"
        for edge, tbl, col in _SKEW_EDGES
    )
    return f"""
    WITH k AS (
      {stacked}),
    c AS (SELECT edge, key, count(*) AS cnt FROM k GROUP BY 1, 2),
    mx AS (SELECT edge, sum(cnt) AS n_rows, count(*) AS n_keys,
                  max(cnt) AS top_cnt
           FROM c GROUP BY 1),
    h AS (SELECT c.edge,
                 min(CASE WHEN c.cnt = mx.top_cnt THEN c.key END)
                   AS top_key,
                 sum(CASE WHEN c.cnt > (100 * mx.n_rows) // mx.n_keys
                          THEN 1 ELSE 0 END) AS hot_keys,
                 sum(CASE WHEN c.cnt > (100 * mx.n_rows) // mx.n_keys
                          THEN c.cnt ELSE 0 END) AS hot_rows
          FROM c JOIN mx ON mx.edge = c.edge GROUP BY 1)
    SELECT mx.edge, CAST(mx.n_rows AS BIGINT) AS n_rows,
           CAST(mx.n_keys AS BIGINT) AS n_keys,
           h.top_key, CAST(mx.top_cnt AS BIGINT) AS top_cnt,
           CAST((mx.top_cnt * 1000000) // mx.n_rows AS BIGINT)
             AS top_share_ppm,
           CAST((mx.top_cnt * 1000 * mx.n_keys) // mx.n_rows AS BIGINT)
             AS skew_milli,
           CAST(h.hot_keys AS BIGINT) AS hot_keys,
           CAST((h.hot_rows * 1000000) // mx.n_rows AS BIGINT)
             AS hot_share_ppm
    FROM mx JOIN h ON h.edge = mx.edge
    """


@query("dq_key_skew", _key_skew_oracle)
def dq_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit over the star's FK edges (plus one
    grouping key): per edge, the heaviest key and its row share,
    skew_milli = heaviest-key load over perfectly-uniform load
    (1000 = uniform), and the count + row share of "hot" keys
    carrying >100x the mean — the numbers that decide salting/AQE
    skew-join BEFORE a 100 TB shuffle runs. The DQ family's fourth
    rung: dq_profile (columns), dq_validation_checks (rows),
    dq_referential_integrity (cross-table), dq_key_skew (shuffle
    health).

    Deliberately NO global sort and NO per-edge top-k window: n_keys
    per edge can be billions, so everything reduces to TWO grouped
    aggregations over the per-key count table — max/sum/count, then
    conditional sums against the 6-row per-edge stats broadcast back.
    top_key ties break by lexicographic min (keys audit as strings so
    heterogeneous edge types stack into one scan). The hot threshold
    compares cnt > (100*n_rows) DIV n_keys — floor-division form so
    no product ever exceeds 100*n_rows. All metrics integer floor
    divisions on nonneg operands (Spark div == DuckDB //); overflow
    LOUD via assert_true(top_cnt * n_keys < 2^52) on the skew ratio.
    Reference analog: none (src/broker.ts has no relational tier);
    §2.11 ops extension surface, same family as SCALING.md's probes."""
    # r16 (guide §2.3 "narrower types"): the stacked per-key count
    # aggregation now runs per key TYPE — the old form cast every FK
    # to STRING before the union, so the busiest shuffle of the query
    # carried a per-row-allocated UTF8 key (~2x the bytes of the
    # bigint it encodes) and hashed strings instead of longs. Edges
    # whose key is integral stack into a BIGINT-keyed union, the rest
    # keep the string union; each group runs the same TWO grouped
    # aggregations as before (a fully per-edge form was tried and
    # rejected: 18 tiny exchanges → 37 AQE stages of pure scheduling,
    # measured 3x slower locally). Keys still AUDIT as strings — the
    # cast moves to the per-key COUNT table (|distinct keys| rows),
    # only for the top-key tie-break, computed in the same string
    # domain as before (bit-identical, including "10" < "9" ties).
    int_types = {"int", "bigint", "smallint", "tinyint"}
    groups: dict[str, list] = {"long": [], "string": []}
    for edge, tbl, col in _SKEW_EDGES:
        t = _t(spark, sf_dir, tbl)
        kind = (
            "long" if dict(t.dtypes)[col] in int_types else "string"
        )
        groups[kind].append(
            t.select(
                F.lit(edge).alias("edge"),
                F.col(col).cast(kind).alias("key"),
            )
        )
    outs = []
    for kind, frames in groups.items():
        if not frames:
            continue
        k = frames[0]
        for fdf in frames[1:]:
            k = k.unionByName(fdf)
        c = k.groupBy("edge", "key").agg(F.count("*").alias("cnt"))
        mx = (
            c.groupBy("edge")
            .agg(
                F.sum("cnt").alias("n_rows"),
                F.count("*").alias("n_keys"),
                F.max("cnt").alias("top_cnt"),
            )
            .where(
                F.assert_true(
                    F.col("top_cnt") * F.col("n_keys") < F.lit(2**52),
                    F.lit(
                        "dq_key_skew: top_cnt * n_keys >= 2^52 — skew_milli "
                        "would overflow int64; rescale the ratio"
                    ),
                ).isNull()
            )
        )
        h = (
            c.join(F.broadcast(mx), "edge")
            .groupBy("edge")
            .agg(
                F.min(
                    F.when(
                        F.col("cnt") == F.col("top_cnt"),
                        F.col("key").cast("string"),
                    )
                ).alias("top_key"),
                F.sum(
                    F.when(
                        F.col("cnt")
                        > F.expr("(100 * n_rows) div n_keys"),
                        1,
                    ).otherwise(0)
                ).alias("hot_keys"),
                F.sum(
                    F.when(
                        F.col("cnt")
                        > F.expr("(100 * n_rows) div n_keys"),
                        F.col("cnt"),
                    ).otherwise(0)
                ).alias("hot_rows"),
            )
        )
        outs.append(mx.join(h, "edge"))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.select(
        "edge",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_keys").cast("bigint").alias("n_keys"),
        "top_key",
        F.col("top_cnt").cast("bigint").alias("top_cnt"),
        F.expr("CAST((top_cnt * 1000000) div n_rows AS BIGINT)").alias(
            "top_share_ppm"
        ),
        F.expr(
            "CAST((top_cnt * 1000 * n_keys) div n_rows AS BIGINT)"
        ).alias("skew_milli"),
        F.col("hot_keys").cast("bigint").alias("hot_keys"),
        F.expr("CAST((hot_rows * 1000000) div n_rows AS BIGINT)").alias(
            "hot_share_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Layout rung 2 (beside evt_zorder_key): the small-file compaction
# PLANNER — S2/S5's compact() decides WHAT to rewrite; this query is
# the manifest-level plan that bounds the rewrite (which segments go
# into which target-size output file), the Delta/Iceberg OPTIMIZE
# bin-packing shape.
# ---------------------------------------------------------------------------


_COMPACTION_TARGET = 65536  # bytes per output bin at test scale


_COMPACTION_ORACLE_SQL = f"""
    WITH seg AS (
      SELECT event_type,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS day_idx,
             sum(48 + coalesce(length(props), 0)) AS seg_bytes,
             count(*) AS n_events
      FROM events GROUP BY 1, 2),
    o AS (SELECT *,
                 coalesce(sum(seg_bytes) OVER (
                   ORDER BY day_idx, event_type
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
          FROM seg),
    binned AS (SELECT *, cum_before // {_COMPACTION_TARGET} AS bin_id
               FROM o)
    SELECT CAST(bin_id AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(min(day_idx) AS BIGINT) AS first_day,
           CAST(max(day_idx) AS BIGINT) AS last_day,
           CAST(sum(seg_bytes) AS BIGINT) AS bin_bytes,
           CAST((sum(seg_bytes) * 1000) // {_COMPACTION_TARGET}
             AS BIGINT) AS fill_milli
    FROM binned GROUP BY bin_id
    """


@query("evt_compaction_plan", _COMPACTION_ORACLE_SQL)
def evt_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction bin-packing plan: per-(type, day) segment byte
    sizes (the event store's append granularity,
    storage/event_store.py compact()'s input) packed into target-size
    output bins by cumulative-sum binning in time order — the
    OPTIMIZE planner's deterministic SQL form. Each output row is one
    planned file: segment count, event count, day span, bytes, and
    fill vs target in milli-units. Time-ordered packing (not
    first-fit-decreasing) is deliberate: compacted files stay
    time-clustered, so ts-range scan pruning (P1) survives the
    rewrite.

    Cumulative binning is one window over the SEGMENT MANIFEST —
    metadata-sized (100 TB / 128 MB ≈ 800k rows), not data-sized, so
    the single-partition ordered window is a planner-side cost by
    construction (the same argument as driver-side collects of
    bounded manifests, without leaving the engine). All arithmetic is
    integer; bins may legitimately skip ids (a jumbo segment swallows
    whole target multiples) and undershoot fill when the previous
    segment overshot — byte conservation and in-order contiguity are
    the invariants (pytest). Reference analog: compact(topic) in
    SURVEY §2 S2/S5; this is its planning twin."""
    return compaction_finalize(
        seg_manifest_agg(_t(spark, sf_dir, "events"))
    )


def seg_manifest_agg(ev: DataFrame) -> DataFrame:
    """The (event_type, day_idx) segment-manifest aggregation —
    bytes and event counts merge by +, so it doubles as the
    complete-mode streaming state of evt_stream_compaction_plan
    (the hw_grid_stream_agg pattern for the layout family)."""
    return ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("day_idx"),
    ).agg(
        F.sum(
            F.lit(48) + F.coalesce(F.length("props"), F.lit(0))
        ).alias("seg_bytes"),
        F.count("*").alias("n_events"),
    )


def compaction_finalize(seg: DataFrame) -> DataFrame:
    """Cumulative-sum bin packing over a (event_type, day_idx,
    seg_bytes, n_events) manifest — shared source-level by the batch
    query above and the streaming matview twin."""
    w = Window.orderBy("day_idx", "event_type").rowsBetween(
        Window.unboundedPreceding, -1
    )
    o = seg.withColumn(
        "cum_before", F.coalesce(F.sum("seg_bytes").over(w), F.lit(0))
    )
    binned = o.withColumn(
        "bin_id", F.expr(f"cum_before div {_COMPACTION_TARGET}")
    )
    return binned.groupBy("bin_id").agg(
        F.count("*").cast("bigint").alias("n_segments"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.min("day_idx").cast("bigint").alias("first_day"),
        F.max("day_idx").cast("bigint").alias("last_day"),
        F.sum("seg_bytes").cast("bigint").alias("bin_bytes"),
        F.expr(
            f"CAST((sum(seg_bytes) * 1000) div {_COMPACTION_TARGET} "
            "AS BIGINT)"
        ).alias("fill_milli"),
    ).select(
        F.col("bin_id").cast("bigint").alias("bin_id"),
        "n_segments",
        "n_events",
        "first_day",
        "last_day",
        "bin_bytes",
        "fill_milli",
    )


# ---------------------------------------------------------------------------
# Graph rung 4: label-propagation communities (synchronous LPA,
# deterministic) — beside components (connectivity), pagerank
# (centrality), k-core (density), and triangles (clustering): the
# community-detection member of the family.
# ---------------------------------------------------------------------------


_LPA_ITERS = 3


def _lpa_oracle() -> str:
    ctes = [
        _copurchase_edge_ctes(),
        "adj AS (SELECT x AS v, y AS u FROM e UNION ALL SELECT y, x FROM e)",
        """l0 AS (SELECT DISTINCT v, v AS lbl FROM (
            SELECT x AS v FROM e UNION ALL SELECT y FROM e))""",
    ]
    prev = "l0"
    for k in range(1, _LPA_ITERS + 1):
        ctes.append(
            f"""c{k} AS (SELECT adj.v, p.lbl, count(*) AS c
            FROM adj JOIN {prev} p ON p.v = adj.u
            GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""l{k} AS (SELECT v, lbl FROM (
              SELECT v, lbl, row_number() OVER (
                PARTITION BY v ORDER BY c DESC, lbl ASC) AS rn
              FROM c{k}) WHERE rn = 1)"""
        )
        prev = f"l{k}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(v) AS BIGINT) AS members_sum,
           CAST(min(v) AS BIGINT) AS min_member
    FROM {prev} GROUP BY lbl
    """
    )


@query("graph_label_propagation", _lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over the
    shared co-purchase graph, 3 fixed iterations — community
    detection, the graph family's fourth rung: components answer
    "connected at all?", LPA answers "which dense social cluster?"
    (labels flood locally and dense regions agree on one label long
    before global connectivity would merge them).

    DETERMINISTIC by construction where vanilla LPA is famously not:
    synchronous updates (no order dependence), mode-of-neighbor-labels
    with count-desc/label-asc tie-break, integer labels = node ids.
    Each iteration is one adjacency join + grouped count + per-node
    argmax window (partitioned by node, never global), localCheckpoint
    truncating the lineage — the connected_components/pagerank loop
    discipline; the oracle replays all iterations as chained CTEs.
    Output: one row per surviving community (label, size, member-sum
    checksum, representative). Edge list is the checkpointed
    df-capped co-purchase graph every graph query shares. Reference
    analog: none; §2.11 graph extension surface."""
    e = _copurchase_edges(spark, sf_dir)
    # r16: adj is a NARROW union over the already-checkpointed edge
    # list — materializing it again bought nothing (guide §2.4); and
    # the in-loop checkpoints are LAZY (the pagerank_int r13
    # discipline: a fixed iteration count has no mid-loop action, so
    # all three iterations pipeline into the caller's single action
    # instead of paying one synchronous driver barrier per round).
    adj = e.select(
        F.col("x").alias("v"), F.col("y").alias("u")
    ).unionByName(e.select(F.col("y").alias("v"), F.col("x").alias("u")))
    # EAGER (r17): the r16 lazy conversion was driver-measured slower
    # (PERF_r16 steady 4.23 -> 5.16 s) and an order-reversed rotating
    # A/B this round confirmed it on this machine (eager trimmean
    # 4.39 s / median 4.47 vs lazy 4.78 / 5.03 over 6 interleaved
    # reps): three fully-lazy iterations stack the per-iteration
    # join+agg into ONE deep job whose scheduling beats the saved
    # barrier. The graph loops that KEPT lazy checkpoints (triangles,
    # link_prediction) have a single consumer action; LPA's loop
    # re-reads lbl twice per iteration.
    lbl = (
        adj.select("v").distinct().withColumn("lbl", F.col("v"))
    ).localCheckpoint(eager=True)
    for _ in range(_LPA_ITERS):
        cnt = (
            adj.join(
                lbl.select(
                    F.col("v").alias("u"), F.col("lbl")
                ),
                "u",
            )
            .groupBy("v", "lbl")
            .agg(F.count("*").alias("c"))
        )
        # argmax by (count desc, label asc) as ONE hash aggregate:
        # min(struct(-c, lbl)) — replaces the row_number window, which
        # cost a per-iteration sort on top of the same exchange
        # (results identical: lexicographic struct-min == the window's
        # count-desc/label-asc rank-1 row; oracle-pinned)
        lbl = (
            cnt.groupBy("v")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("lbl").alias("l"))
                ).alias("m")
            )
            .select("v", F.col("m.l").alias("lbl"))
            .localCheckpoint(eager=True)  # see the init comment (r17)
        )
    return lbl.groupBy(F.col("lbl").alias("community")).agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.sum("v").cast("bigint").alias("members_sum"),
        F.min("v").cast("bigint").alias("min_member"),
    )


# ---------------------------------------------------------------------------
# Graph rung 5: link prediction by neighbor-set Jaccard — the
# "who should be connected but isn't" scorer (Liben-Nowell &
# Kleinberg): candidate pairs share >= 1 neighbor, score =
# |N(x) ∩ N(y)| / |N(x) ∪ N(y)| over NON-edges.
# ---------------------------------------------------------------------------


_LP_TOPK = 20


def _link_pred_oracle() -> str:
    return f"""
    WITH {_copurchase_edge_ctes()},
    adj AS (SELECT x AS v, y AS u FROM e UNION ALL SELECT y, x FROM e),
    deg AS (SELECT v, count(*) AS d FROM adj GROUP BY v),
    cand AS (SELECT a1.u AS x, a2.u AS y, count(*) AS c
             FROM adj a1 JOIN adj a2
               ON a2.v = a1.v AND a1.u < a2.u
             GROUP BY 1, 2),
    ne AS (SELECT cand.x, cand.y, cand.c FROM cand
           LEFT JOIN e ON e.x = cand.x AND e.y = cand.y
           WHERE e.x IS NULL),
    sc AS (SELECT ne.x, ne.y, ne.c, dx.d AS dx, dy.d AS dy,
                  (ne.c * 1000000) // (dx.d + dy.d - ne.c)
                    AS jaccard_ppm
           FROM ne JOIN deg dx ON dx.v = ne.x
                  JOIN deg dy ON dy.v = ne.y)
    SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
           CAST(c AS BIGINT) AS common_n,
           CAST(dx AS BIGINT) AS deg_x, CAST(dy AS BIGINT) AS deg_y,
           CAST(jaccard_ppm AS BIGINT) AS jaccard_ppm
    FROM sc
    ORDER BY jaccard_ppm DESC, x ASC, y ASC
    LIMIT {_LP_TOPK}
    """


@query("graph_link_prediction", _link_pred_oracle())
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the co-purchase graph (Liben-Nowell &
    Kleinberg's Jaccard scorer): top-20 NON-edges ranked by
    neighbor-set Jaccard — the "customers who should look alike but
    aren't linked yet" rung, graph family member 5 beside components
    / pagerank / k-core / triangles / LPA. Candidates come only from
    shared-neighbor wedges (never all pairs), the triangle family's
    candidate-bounding argument: pair generation is Σ d(z)² over the
    df-capped edge list, and the anti-join against existing edges is
    an equi-join.

    INTEGER-EXACT: jaccard_ppm = (c·1e6) DIV (dx + dy − c), nonneg
    floor division identical on both engines; top-20 ties break on
    (x, y), served by TakeOrderedAndProject — no global sort.
    Reference analog: none; §2.11 graph extension surface."""
    from env_event_stream_spark.operators.relational import top_k

    e = _copurchase_edges(spark, sf_dir)
    adj = e.select(F.col("x").alias("v"), F.col("y").alias("u")).unionByName(
        e.select(F.col("y").alias("v"), F.col("x").alias("u"))
    )
    deg = adj.groupBy("v").agg(F.count("*").alias("d"))
    a1 = adj.select("v", F.col("u").alias("x"))
    a2 = adj.select("v", F.col("u").alias("y"))
    cand = (
        a1.join(a2, "v")
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("c"))
    )
    ne = cand.join(e, ["x", "y"], "left_anti")
    sc = (
        ne.join(deg.select(F.col("v").alias("x"), F.col("d").alias("dx")), "x")
        .join(deg.select(F.col("v").alias("y"), F.col("d").alias("dy")), "y")
        .select(
            F.col("x").cast("bigint").alias("x"),
            F.col("y").cast("bigint").alias("y"),
            F.col("c").cast("bigint").alias("common_n"),
            F.col("dx").cast("bigint").alias("deg_x"),
            F.col("dy").cast("bigint").alias("deg_y"),
            F.expr(
                "CAST((c * 1000000) div (dx + dy - c) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )
    return top_k(
        sc,
        [F.col("jaccard_ppm").desc(), F.col("x").asc(), F.col("y").asc()],
        _LP_TOPK,
    )


# ---------------------------------------------------------------------------
# Weighted PageRank: trade-VOLUME centrality — the unit-edge
# graph_pagerank_custsupp can't tell a hub with one heavy partner
# from a hub with many light ones; edge weights (lineitem counts) can.
# ---------------------------------------------------------------------------


_PRW_UNIT = 10**12
_PRW_ITERS = 3


def _pagerank_weighted_oracle() -> str:
    ctes = [
        """e0 AS (SELECT o_custkey AS c, l_suppkey AS s,
                 count(*) AS w
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          GROUP BY 1, 2)""",
        """edges AS (
         SELECT 'c:' || CAST(c AS VARCHAR) AS src,
                's:' || CAST(s AS VARCHAR) AS dst, w FROM e0
         UNION ALL
         SELECT 's:' || CAST(s AS VARCHAR), 'c:' || CAST(c AS VARCHAR),
                w
         FROM e0)""",
        """deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS wdeg
               FROM edges GROUP BY src)""",
        "n AS (SELECT count(*) AS n FROM deg)",
        f"""r0 AS (SELECT src AS node, wdeg,
                  CAST({_PRW_UNIT} // n.n AS BIGINT) AS r
               FROM deg CROSS JOIN n)""",
    ]
    prev = "r0"
    for k in range(1, _PRW_ITERS + 1):
        ctes.append(
            f"""r{k} AS (
          SELECT deg.src AS node, deg.wdeg,
                 CAST((15 * {_PRW_UNIT}) // (100 * n.n)
                      + (85 * coalesce(t.total, 0)) // 100 AS BIGINT)
                   AS r
          FROM deg CROSS JOIN n
          LEFT JOIN (SELECT e.dst AS nd,
                            sum(({prev}.r * e.w) // {prev}.wdeg)
                              AS total
                     FROM edges e JOIN {prev} ON {prev}.node = e.src
                     GROUP BY e.dst) t
            ON t.nd = deg.src)"""
        )
        prev = f"r{k}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node, wdeg, r AS rank_units,
           CAST(row_number() OVER (ORDER BY r DESC, node ASC) AS BIGINT)
             AS pos
    FROM {prev}
    QUALIFY pos <= 20
    """
    )


@query("graph_pagerank_weighted", _pagerank_weighted_oracle())
def graph_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the customer↔supplier trade graph with
    LINEITEM counts as edge weights — trade-volume centrality (the
    weighted-TextRank formulation applied to the bipartite trade
    graph), top-20. Contrast with graph_pagerank_custsupp's unit
    edges: there a customer with 50 one-lineitem suppliers and one
    with 50 heavy suppliers rank identically; here mass flows in
    proportion to volume.

    INTEGER-EXACT (operators/graph.py:pagerank_int, weight="w"):
    per-edge transfer = (rank·w) DIV wdeg in bigint micro-units —
    order-free, iteration-replayable (the oracle chains all three
    rounds as CTEs), with assert_true bounding weights at 2^20 so
    rank·w can't wrap. Same per-iteration shape as the unit-edge
    rung: one node-keyed join + grouped sum + localCheckpoint; top-20
    via TakeOrderedAndProject.

    r16 (guide §2.3 "narrower types"): the loop runs on BIGINT node
    ids (custkey·2 / suppkey·2+1, disjoint by parity) — same rewrite
    as graph_pagerank_custsupp; the 'c:'/'s:' string label is
    reconstructed after the loop so the node-asc top-20 tie-break
    still orders on the string exactly as the oracle does."""
    from env_event_stream_spark.operators.graph import pagerank_int
    from env_event_stream_spark.operators.relational import top_k

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    e0 = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count("*").alias("w"))
    )
    ei = e0.select(
        (F.col("o_custkey").cast("bigint") * 2).alias("c"),
        (F.col("l_suppkey").cast("bigint") * 2 + 1).alias("s"),
        "w",
    )
    edges = ei.select(
        F.col("c").alias("src"), F.col("s").alias("dst"), "w"
    ).unionByName(
        ei.select(F.col("s").alias("src"), F.col("c").alias("dst"), "w")
    )
    pr = pagerank_int(edges, weight="w", iterations=_PRW_ITERS, unit=_PRW_UNIT)
    pr = pr.select(
        F.concat(
            F.when(F.col("node") % 2 == 0, F.lit("c:")).otherwise(F.lit("s:")),
            F.expr("node DIV 2").cast("string"),
        ).alias("node"),
        F.col("deg").alias("wdeg"),
        "rank_units",
    )
    order = [F.col("rank_units").desc(), F.col("node").asc()]
    top = top_k(pr, order, 20)
    w = Window.orderBy(*order)
    return top.withColumn(
        "pos", F.row_number().over(w).cast("bigint")
    ).select("node", "wdeg", "rank_units", "pos")
