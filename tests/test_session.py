"""SparkSession factory contract: the SPARK_GRAFT_EXTRA_CONF override
hook used by the catalog-wide invariance sweeps (non-UTC timezone,
tiny Arrow batches, AQE off, broadcast disabled), and the driver class
path the nochmod jar joins.

Only the parsing is unit-tested: getOrCreate() honors configs solely
on first creation, so an in-process "does the config apply" test
would silently assert against the shared test session. The sweeps
themselves run check.py in a fresh interpreter.
"""

from __future__ import annotations

import os

import pytest
from pyspark import SparkConf

from env_event_stream_spark.session import driver_class_path, extra_conf_pairs


def test_extra_conf_pairs_parses_k_v_list():
    assert extra_conf_pairs(
        "spark.sql.session.timeZone=America/New_York;"
        "spark.sql.execution.arrow.maxRecordsPerBatch=7"
    ) == [
        ("spark.sql.session.timeZone", "America/New_York"),
        ("spark.sql.execution.arrow.maxRecordsPerBatch", "7"),
    ]


def test_extra_conf_pairs_tolerates_blanks_and_whitespace():
    assert extra_conf_pairs("") == []
    assert extra_conf_pairs(" ; ;") == []
    assert extra_conf_pairs(" a = b ; ") == [("a", "b")]


def test_extra_conf_pairs_value_may_contain_equals():
    # JVM-option-style values keep everything after the first '='
    assert extra_conf_pairs("spark.x=-Da=b") == [("spark.x", "-Da=b")]


def test_extra_conf_pairs_rejects_malformed_entries():
    # Spark accepts unknown conf keys silently, so a typo here would
    # run the DEFAULT config while the sweep reports green — raise
    import pytest

    for bad in ("spark.sql.ansi.enabled:false", "a=b,c=d;x", "=v", "k="):
        with pytest.raises(ValueError):
            extra_conf_pairs(bad)


def _load_invariance():
    # importlib on the file path, NOT sys.path mutation: tools/ holds
    # generically named modules and the test session must not leak an
    # import path that could shadow installed packages (ADVICE r12)
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "invariance.py",
    )
    spec = importlib.util.spec_from_file_location("_invariance_under_test", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_invariance_preset_confs_all_parse():
    # A typo'd preset string would make get_spark RAISE in the swept
    # subprocess (by design) — but pin it here too so the failure is
    # a unit test, not a dead sweep discovered mid-close.
    inv = _load_invariance()
    for name, env in inv.PRESETS.items():
        extra_conf_pairs(env.get("SPARK_GRAFT_EXTRA_CONF", ""))
        # every knob a preset sets must be one the runner knows how
        # to clear (or deliberately passes through), else preset A's
        # export could compose into preset B's differently-named gate
        assert set(env) <= {
            "TZ",
            "SPARK_GRAFT_CPUS",
            "SPARK_GRAFT_EXTRA_CONF",
            "SPARK_GRAFT_PLAIN_SESSION",
        }, name


def test_invariance_composite_covers_every_sql_axis():
    # `composite` exists to prove the per-axis invariances COMPOSE;
    # silently dropping an axis would leave a gate that reads as
    # all-hostile while running a weaker config
    inv = _load_invariance()
    comp = inv.PRESETS["composite"]
    keys = {k for k, _ in extra_conf_pairs(comp["SPARK_GRAFT_EXTRA_CONF"])}
    assert keys == {
        "spark.sql.ansi.enabled",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.codegen.wholeStage",
        "spark.sql.parquet.enableVectorizedReader",
    }
    assert comp["TZ"] == "America/New_York"
    assert comp["SPARK_GRAFT_CPUS"] == "5"
    assert inv.PRESETS["driversim"] == {"SPARK_GRAFT_PLAIN_SESSION": "1"}


def test_plain_session_refuses_extra_conf(monkeypatch):
    # A plain session ignores every tuning knob, so composing it with
    # EXTRA_CONF would run a config the gate label doesn't claim —
    # get_spark refuses loudly instead (the extra_conf_pairs lesson).
    from env_event_stream_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_PLAIN_SESSION", "1")
    monkeypatch.setenv(
        "SPARK_GRAFT_EXTRA_CONF", "spark.sql.ansi.enabled=false"
    )
    with pytest.raises(ValueError, match="PLAIN_SESSION ignores"):
        get_spark("refused")


def test_driver_class_path_appends_the_jar():
    """The nochmod jar joins a driver class path already configured
    (spark-defaults.conf, ``--conf``) instead of replacing it, and is
    not added twice."""
    conf = SparkConf(loadDefaults=False)
    assert driver_class_path(conf, "jars/n.jar") == "jars/n.jar"
    conf.set("spark.driver.extraClassPath", os.pathsep.join(["libs/a.jar", "libs/b"]))
    joined = os.pathsep.join(["libs/a.jar", "libs/b", "jars/n.jar"])
    assert driver_class_path(conf, "jars/n.jar") == joined
    conf.set("spark.driver.extraClassPath", joined)
    assert driver_class_path(conf, "jars/n.jar") == joined
