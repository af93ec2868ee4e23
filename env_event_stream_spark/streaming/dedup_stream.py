"""Streaming near-duplicate detection: an incrementally-maintained
MinHash band index.

Batch dedup (operators/dedup.py) assumes the corpus is at rest. In a
pipeline, documents ARRIVE — each micro-batch must be checked against
everything seen so far without recomputing the corpus. The index is a
durable (band, band_key, doc_id) parquet table:

  per batch:  band-key the new docs                (map-side, no shuffle)
              join against the stored index        (the only shuffle)
              emit (new_id, old_id) candidate pairs → pairs table
              self-join the batch for intra-batch pairs
              append the new keys to the index

Cost per batch is O(batch × matching buckets) — the stored corpus is
only touched via the equi-join on band keys, which partition-prunes
on the band column. Wrap ``apply_batch`` in an IdempotentBatchSink for
effectively-once pair emission under replay."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from env_event_stream_spark.operators.dedup import minhash_signatures
from env_event_stream_spark.storage.rewrite import has_parquet

__all__ = ["IncrementalNearDupIndex", "contamination_gate"]


def contamination_gate(
    docs: DataFrame,
    eval_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_shared: int = 1,
) -> DataFrame:
    """Ingest-time decontamination gate — the streaming twin of
    ``operators.dedup.contamination_hits``.

    The eval/benchmark n-gram vocabulary is collapsed to ONE row
    (collect_set) and broadcast; each arriving document computes
    ``array_intersect`` against it per row. Fully stateless, so it is
    append-mode safe on an unbounded stream — no watermark, no state
    store, no aggregation. At 100 TB ingest the per-row cost is
    O(doc n-grams) probing a constant in-memory set.

    Output: input columns + n_shared + contaminated flag; route the
    flagged rows to quarantine with a filter, mirroring the reference's
    validate-or-DLQ publish gate (src/topic.ts:103-110)."""
    from env_event_stream_spark.functions.text import word_shingles

    ev = (
        eval_df.select(
            F.explode(word_shingles(F.col(text_col), n)).alias("sh")
        )
        .distinct()
        .agg(F.collect_set("sh").alias("_eval_sh"))
    )
    return (
        docs.crossJoin(F.broadcast(ev))
        .withColumn("_sh", word_shingles(F.col(text_col), n))
        .withColumn(
            "n_shared",
            F.size(F.array_intersect(F.col("_sh"), F.col("_eval_sh"))),
        )
        .withColumn("contaminated", F.col("n_shared") >= min_shared)
        .drop("_sh", "_eval_sh")
    )


class IncrementalNearDupIndex:
    def __init__(
        self,
        spark: SparkSession,
        index_path: str,
        pairs_path: str,
        *,
        text_col: str = "text",
        id_col: str = "doc_id",
        n: int = 3,
        bands: int = 4,
        rows: int = 4,
    ):
        self.spark = spark
        self.index_path = index_path
        self.pairs_path = pairs_path
        self.text_col = text_col
        self.id_col = id_col
        self.n = n
        self.bands = bands
        self.rows = rows

    def _band_keys(self, docs: DataFrame) -> DataFrame:
        sig = minhash_signatures(
            docs, self.text_col, self.id_col, n=self.n,
            k=self.bands * self.rows,
        )
        parts = []
        for b in range(self.bands):
            cols = [F.col(f"h{b * self.rows + r}") for r in range(self.rows)]
            parts.append(
                sig.select(
                    F.col(self.id_col),
                    F.lit(b).alias("band"),
                    F.md5(F.concat_ws(",", *cols)).alias("bk"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _read(self, path: str, schema: str) -> DataFrame:
        if has_parquet(path):
            return self.spark.read.parquet(path)
        return self.spark.createDataFrame([], schema)

    def index_df(self) -> DataFrame:
        return self._read(
            self.index_path, f"{self.id_col} bigint, band int, bk string"
        )

    def pairs_df(self) -> DataFrame:
        return self._read(self.pairs_path, "new_id bigint, old_id bigint")

    def apply_batch(self, batch: DataFrame, _epoch_id: int = 0) -> None:
        banded = self._band_keys(batch).localCheckpoint(eager=True)
        idx = self.index_df()

        vs_index = (
            banded.alias("n")
            .join(idx.alias("o"), ["band", "bk"])
            .select(
                F.col(f"n.{self.id_col}").alias("new_id"),
                F.col(f"o.{self.id_col}").alias("old_id"),
            )
        )
        intra = (
            banded.alias("x")
            .join(banded.alias("y"), ["band", "bk"])
            .where(F.col(f"x.{self.id_col}") < F.col(f"y.{self.id_col}"))
            .select(
                F.col(f"y.{self.id_col}").alias("new_id"),
                F.col(f"x.{self.id_col}").alias("old_id"),
            )
        )
        pairs = vs_index.unionByName(intra).distinct()
        pairs.write.mode("append").parquet(self.pairs_path)
        banded.write.mode("append").parquet(self.index_path)
