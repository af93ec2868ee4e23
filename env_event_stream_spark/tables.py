"""Load the driver's synthetic parquet tables and register temp views.

Tables (FIXTURES.md §B): region nation customer supplier part orders
lineitem events documents embeddings — one parquet each under an
``sf_dir`` such as /root/testdata/sf0.01.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

__all__ = [
    "TABLE_NAMES",
    "load_table",
    "load_events",
    "prepare_session",
    "spread_small_scan",
    "small_model_frame",
]


def small_model_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Tiny driver-side constant/model table (centroids, codebooks,
    band dims, trained vocab) as a DataFrame built from ONE Arrow
    batch. The plain ``createDataFrame(list)`` path parallelizes the
    rows into ``defaultParallelism`` PICKLED partitions, so every
    downstream materialization — a broadcast build, a model collect,
    a count — pays one no-op Python-worker round trip per slot
    (measured: 0.5-0.6 s per materialization at 32 slots for an
    8-row centroid frame, pure fixed cost; guide §4 "the Python
    boundary"). The pandas/Arrow path ships the same rows as a
    single Arrow batch that the JVM reads directly — no Python
    workers at any point downstream (~0.01 s per collect).

    Values are passed through byte-exactly (Arrow carries int64 /
    float64 / utf8 / list<float64> untouched; the explicit schema is
    applied as in the row path). Falls back to the classic row path
    when pandas/Arrow conversion declines the rows (e.g. Arrow
    disabled by an invariance preset plus exotic nulls) — identical
    semantics, just the old fixed cost."""
    rows = list(rows)
    try:
        import pandas as pd
        from pyspark.sql.types import StructType

        st = (
            StructType.fromDDL(schema) if isinstance(schema, str) else schema
        )
        pdf = pd.DataFrame(rows, columns=st.fieldNames(), dtype=object)
        return spark.createDataFrame(pdf, st)
    except Exception:
        return spark.createDataFrame(rows, schema)


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin-spread a sub-split scan before CPU-heavy row-local
    work (stack melts, tokenize/explode, per-row scoring): a small
    parquet file arrives as one partition (or as few as it has row
    groups), pinning the whole map stage to that many cores. Only
    fires when the scan has fewer partitions than the cluster has
    slots — a real multi-file 100 TB table skips it entirely, so the
    exchange this adds exists ONLY at sub-split scale where it is
    trivially cheap (guide §2.5 "input skew"; the dedup-family
    _spread / simhash precedent)."""
    slots = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < slots:
        return df.repartition(slots)
    return df


def prepare_session(spark: SparkSession) -> SparkSession:
    """Pin session confs required for deterministic, oracle-comparable
    results regardless of who built the session (the driver builds its
    own). UTC timezone keeps collected timestamps identical to
    DuckDB's naive-UTC values."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events.parquet carries TIMESTAMP(NANOS) which Spark's reader
    # rejects; read as long nanos and convert (exact integer DIV so the
    # µs truncation matches DuckDB's ns→µs conversion).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Quiet the deliberate-global-window warning on EXTERNALLY built
    # sessions too (the driver builds its own): every catalog callable
    # routes through here. Once per session — the log4j2 call is a
    # py4j roundtrip and load_table calls this per table.
    if not getattr(spark, "_gw_quieted", False):
        from env_event_stream_spark.session import (
            _quiet_deliberate_global_windows,
        )

        _quiet_deliberate_global_windows(spark)
        try:
            spark._gw_quieted = True
        except Exception:  # frozen session wrapper: re-run next call
            pass
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan — Catalyst pushes filters/pruning into it."""
    prepare_session(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        dtype = dict(df.dtypes).get("ts")
        if dtype == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif dtype == "timestamp_ntz":
            # Driver-regenerated parquet carries timestamp[us] with no
            # isAdjustedToUTC flag, which Spark reads as TIMESTAMP_NTZ;
            # NTZ-strict exprs (unix_micros) reject it. Session tz is
            # pinned UTC (prepare_session) so this cast preserves every
            # instant and keeps DuckDB epoch parity.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        elif dtype == "string":
            # defensive: a future regeneration could ship ISO strings
            # (the testdata has drifted once already — see NEXT.md)
            df = df.withColumn("ts", F.to_timestamp("ts"))
    return df


def _utc_ns(ts: str) -> int:
    """Naive-UTC 'YYYY-MM-DD HH:MM:SS' → epoch nanoseconds."""
    import datetime as _dt

    d = _dt.datetime.fromisoformat(ts).replace(tzinfo=_dt.timezone.utc)
    return int(d.timestamp()) * 1_000_000_000


def load_events(
    spark: SparkSession,
    sf_dir: str,
    *,
    from_ts: str | None = None,
    to_ts: str | None = None,
) -> DataFrame:
    """Events scan with the ts-range applied in the RAW nanos domain
    so it reaches the parquet reader as a pushable column comparison.

    The generic path (filter after `timestamp_micros(ts DIV 1000)`)
    wraps the column in an expression, which blocks predicate pushdown
    — at 100 TB that is the difference between skipping row groups on
    min/max stats and scanning the full table. The raw-domain bounds
    are exact under µs truncation: conv(ts) >= B ⇔ ns >= B·1000ns and
    conv(ts) <= B ⇔ ns <= B·1000ns + 999 (verified by
    tests/test_plans.py + the evt_replay oracle)."""
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if dict(df.dtypes).get("ts") == "bigint":
        if from_ts is not None:
            df = df.where(F.col("ts") >= _utc_ns(from_ts) // 1000 * 1000)
        if to_ts is not None:
            df = df.where(F.col("ts") <= _utc_ns(to_ts) // 1000 * 1000 + 999)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    else:
        # For timestamp/TIMESTAMP_NTZ encodings: filter on the RAW
        # column (string literals coerce to the column's own timestamp
        # type) so the comparison is pushable, THEN normalize
        # TIMESTAMP_NTZ → TIMESTAMP for downstream NTZ-strict
        # expressions (UTC session tz ⇒ instants unchanged). A string
        # ts column is the one exception: it must be converted BEFORE
        # filtering (lexicographic string compare is not a safe
        # ts-range proxy across fractional-second forms).
        if dict(df.dtypes).get("ts") == "string":
            df = df.withColumn("ts", F.to_timestamp("ts"))
        if from_ts is not None:
            df = df.where(F.col("ts") >= F.lit(from_ts))
        if to_ts is not None:
            df = df.where(F.col("ts") <= F.lit(to_ts))
        if dict(df.dtypes).get("ts") == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df

