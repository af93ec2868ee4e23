"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the configs below are chosen so the
same code scales to a multi-executor cluster: AQE for runtime re-plan
(skew joins, partition coalescing), UTC session timezone (oracle
parity + sane event-time semantics), Arrow for the pandas-UDF slow
path.
"""

from __future__ import annotations

import os

from pyspark import SparkConf
from pyspark.sql import SparkSession

__all__ = ["get_spark", "extra_conf_pairs", "driver_class_path"]


def extra_conf_pairs(extra: str) -> list:
    """Parse ``SPARK_GRAFT_EXTRA_CONF`` ("k=v;k=v") into (key, value)
    pairs. Split out of get_spark so the parsing is unit-testable
    without building a second SparkSession (getOrCreate() ignores
    configs once a session exists in-process).

    Malformed entries RAISE instead of degrading: Spark accepts
    unknown conf keys silently, so a typo'd sweep config (colon for
    '=', comma-separated list) would otherwise run the DEFAULT
    configuration while the sweep reports green for a gate that
    never ran.

    Known format limits (deliberate — the raise above is worth more
    than generality): values containing ';' cannot be expressed
    (no escape syntax), and empty values ('k=') are rejected even
    though a few Spark confs accept empty strings. No invariance
    preset needs either; a sweep that does should add an escaped
    separator here rather than weakening the malformed-entry raise."""
    pairs = []
    for kv in filter(None, (s.strip() for s in extra.split(";"))):
        k, eq, v = kv.partition("=")
        if not eq or not k.strip() or not v.strip():
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONF entry {kv!r} is not 'key=value'"
            )
        pairs.append((k.strip(), v.strip()))
    return pairs


def driver_class_path(conf: SparkConf, jar: str) -> str:
    """``spark.driver.extraClassPath`` of ``conf`` with ``jar`` appended
    (once), so a class path set elsewhere is kept, not overwritten."""
    key = "spark.driver.extraClassPath"
    entries = [p for p in (conf.get(key) or "").split(os.pathsep) if p]
    if jar not in entries:
        entries.append(jar)
    return os.pathsep.join(entries)


def get_spark(app_name: str = "env_event_stream_spark") -> SparkSession:
    """Build (or reuse) a SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` (default: all cores) for local
    parallelism and sizes shuffle partitions to match — on a real
    cluster these would be set per-job; AQE coalesces the rest.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else "local[*]"
    # Driver-sim hook (invariance preset `driversim`): a PLAIN session
    # with STOCK defaults — ANSI on, 200 shuffle partitions, 10 MB
    # broadcast threshold, default heap, none of the tuning below and
    # no EXTRA_CONF — proving every catalog callable self-pins its
    # required confs via tables.prepare_session regardless of who
    # built the session (the driver builds its own). Master/appName
    # only: a masterless local builder cannot start at all. Same
    # first-creation-only caveat as EXTRA_CONF below: getOrCreate in
    # a process that already holds a tuned session returns THAT
    # session — sweeps run in fresh interpreters (invariance.py does).
    if os.environ.get("SPARK_GRAFT_PLAIN_SESSION"):
        # Loud-failure rule (the extra_conf_pairs lesson): a plain
        # session IGNORES every tuning knob, so composing it with
        # EXTRA_CONF would silently run a different config than the
        # gate label claims. invariance.py clears the knobs before
        # setting this; a hand-typed export that sets both is a
        # mislabeled sweep — refuse to run it.
        if os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").strip():
            raise ValueError(
                "SPARK_GRAFT_PLAIN_SESSION ignores SPARK_GRAFT_EXTRA_CONF; "
                "unset one of them (a plain session takes NO extra conf)"
            )
        spark = (
            SparkSession.builder.master(master).appName(app_name).getOrCreate()
        )
        spark.sparkContext.setLogLevel("WARN")
        return spark
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(int(cpus) if cpus else 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT64 UTC-μs timestamps with footer min/max instead of INT96,
        # which has no statistics: driver-side reads of store files
        # (storage/parquet_read.py) then skip the files outside a window
        # from their footers. Session-wide: Spark has no per-write option.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    # Ephemeral-checkpoint filesystem (r17, VERDICT r16 item 5): a
    # RawLocalFileSystem subclass whose setPermission is a no-op,
    # registered under the dedicated scheme nochmod:// — without
    # libhadoop, every permission-carrying file create in a streaming
    # checkpoint FORKS /bin/chmod (hundreds of fork+exec per
    # availableNow run, measured). Registering the scheme is inert by
    # itself; only the catalog stream runner's per-query ephemeral
    # checkpoint AND sink dirs opt in (streaming_queries._ckpt_path),
    # and only when this jar is on the classpath — without it they
    # fall back to plain local paths. Durable deployments never see
    # it: no restorable path uses the scheme and fs.defaultFS is
    # untouched. Only spark.driver.extraClassPath carries the jar,
    # appended to any class path already configured: the master is
    # always local[...], so executors run inside the driver JVM; a
    # cluster master would also need it on spark.executor.extraClassPath.
    _nochmod_jar = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "jars",
        "spark-graft-nochmodfs.jar",
    )
    if os.path.exists(_nochmod_jar):
        builder = builder.config(
            "spark.driver.extraClassPath",
            driver_class_path(SparkConf(), _nochmod_jar),
        ).config(
            "spark.hadoop.fs.nochmod.impl",
            "sparkgraft.NoChmodLocalFileSystem",
        )
    # Invariance-sweep hook: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" overrides
    # any default above (applied last). This is how the catalog-wide
    # robustness gates run (non-UTC session timezone, tiny Arrow
    # batches, AQE off, broadcast disabled) without editing this file.
    # NOTE: getOrCreate() only honors configs on FIRST creation in a
    # process — sweeps must run in a fresh interpreter, as check.py does.
    for k, v in extra_conf_pairs(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")):
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _quiet_deliberate_global_windows(spark)
    return spark


def _quiet_deliberate_global_windows(spark: SparkSession) -> None:
    """Silence the window operators' "No Partition Defined for Window
    operation!" runtime warning (VERDICT r12 task 4).

    Every ORDER-BY-only window in the catalog is deliberate and
    input-bounded — a rank/ntile over a top-k cut or a grouped
    aggregate, never a raw fact table (each one's bound is documented
    in tools/plan_lint.py GLOBAL_WINDOW_ALLOWED) — so the warning is
    pure noise in driver bench logs, repeated per plan compile. The
    tripwire it provided is NOT lost: plan_lint now FAILS on any
    global window without an allowlist reason, which is a stronger
    gate than a log line nobody greps. Per-logger suppression (log4j2
    Configurator), not a blanket level change: the trade is scoped to
    these three exec classes — ALL their future WARNs are silenced
    (log4j has no per-message filter hook reachable from here), which
    today means only the partition-warning line, but any warning these
    three classes grow later is traded away too. Everything OTHER
    Spark classes warn about stays visible."""
    try:
        jvm = spark.sparkContext._jvm
        level = jvm.org.apache.logging.log4j.Level.ERROR
        for cls in (
            "org.apache.spark.sql.execution.window.WindowExec",
            "org.apache.spark.sql.execution.window.WindowInPandasExec",
            "org.apache.spark.sql.execution.window.WindowGroupLimitExec",
        ):
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                cls, level
            )
    except Exception:  # pragma: no cover - non-log4j2 logging backend
        pass  # cosmetic only; never fail session construction over it
