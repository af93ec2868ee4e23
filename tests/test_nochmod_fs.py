"""The ephemeral-checkpoint filesystem (r17, VERDICT r16 item 5).

Without libhadoop, RawLocalFileSystem forks /bin/chmod per
permission-carrying file create; jars/spark-graft-nochmodfs.jar
(source: jvm/src) registers `nochmod://` — a RawLocalFileSystem whose
setPermission is a no-op — and the streaming helpers route their
per-query ephemeral checkpoint/sink tmpdirs through it. These tests
pin (a) byte-faithful parquet round-trips through the scheme, (b) the
_ckpt_path resolution/fallback contract the streaming family depends
on. If the jar is absent (e.g. a plain driversim session), everything
must degrade to plain local paths — never fail a query."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from env_event_stream_spark import streaming_queries as SQ


def _scheme_available(spark) -> bool:
    try:
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI.create("nochmod:///"),
            spark._jsc.hadoopConfiguration(),
        )
        return fs.getScheme() == "nochmod"
    except Exception:
        return False


def test_nochmod_parquet_roundtrip_is_byte_faithful(spark):
    if not _scheme_available(spark):
        import pytest

        pytest.skip("nochmod scheme not registered in this session")
    df = spark.range(500).select(
        "id",
        (F.col("id") % 13).alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    d = tempfile.mkdtemp(prefix="nochmod_rt_")
    df.write.mode("overwrite").parquet(f"nochmod://{d}")
    back = spark.read.parquet(f"nochmod://{d}")
    # parquet round-trips relax nullability; names/types must hold
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in df.schema.fields
    ]
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )
    # RawLocalFileSystem, not LocalFileSystem: no .crc companions
    names = os.listdir(d)
    assert not [n for n in names if n.endswith(".crc")], names


def test_ckpt_path_resolves_or_falls_back(spark, monkeypatch):
    d = tempfile.mkdtemp(prefix="nochmod_cp_")
    got = SQ._ckpt_path(spark, d)
    if _scheme_available(spark):
        assert got == f"nochmod://{d}"
    else:
        assert got == d  # plain path: the query must still run
    # a scheme the session cannot load (the jar-absent case) falls
    # back to the plain path instead of failing the query
    monkeypatch.setattr(SQ, "_CKPT_FS", "nosuchfs")
    monkeypatch.setattr(SQ, "_ckpt_fs_ok", None)
    assert SQ._ckpt_path(spark, d) == d


def test_runner_under_tmpdir_with_uri_special_chars(
    spark, tmp_path, monkeypatch
):
    """The `<scheme>://<dir>` concat is left unescaped: Hadoop's Path
    quotes a space, `%` and `#` itself, so the URI resolves back to
    the exact local dir. A TMPDIR holding all three must run a stream
    through the runner and write its sink at that very path."""
    weird = tmp_path / "tmp a b%41#x"
    weird.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(weird))
    src = str(tmp_path / "src")
    spark.range(30).selectExpr("id", "id % 3 AS k").write.parquet(src)
    ev = spark.readStream.schema("id bigint, k bigint").parquet(src)

    (sink,) = SQ._run_available_now("append", (ev, "weird"))

    (local,) = [str(p) for p in weird.glob("weird_sink_*")]
    if _scheme_available(spark):
        assert sink == f"nochmod://{local}"
    else:
        assert sink == local
    assert "_spark_metadata" in os.listdir(local)
    assert sorted(map(tuple, spark.read.parquet(sink).collect())) == [
        (i, i % 3) for i in range(30)
    ]
    assert list(weird.glob("weird_ckpt_*")) == []
