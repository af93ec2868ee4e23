"""Incrementally-maintained materialized rollups.

The pattern: a streaming query folds each micro-batch into a
partitioned parquet rollup table, recomputing ONLY the partitions the
batch touched (read-back + re-aggregate + dynamic partition
overwrite). Combined with an epoch-commit guard (sinks.py) the rollup
is effectively-once. At 100 TB: each batch rewrites a handful of
(day) partitions, never the table; readers see a plain parquet table
they can query with zero knowledge of the pipeline."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from env_event_stream_spark.storage.rewrite import has_parquet

__all__ = ["DailyRollupView"]


class DailyRollupView:
    """events → (day, *keys) additive-aggregate rollup table.

    Additivity is the contract: the per-batch partial aggregate merges
    with the stored partition by summing — counts, sums, min/max all
    qualify (avg = sum/count at read time)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        ts_col: str,
        keys: Sequence[str],
        sum_cols: dict[str, str],  # output name -> source column
    ):
        self.spark = spark
        self.path = path
        self.ts_col = ts_col
        self.keys = list(keys)
        self.sum_cols = dict(sum_cols)

    def _aggregate(self, df: DataFrame) -> DataFrame:
        aggs: list[Column] = [F.count("*").alias("n")]
        aggs += [
            F.sum(src).alias(name) for name, src in self.sum_cols.items()
        ]
        return df.groupBy(
            F.date_trunc("day", self.ts_col).alias("day"), *self.keys
        ).agg(*aggs)

    def read(self) -> DataFrame:
        if not has_parquet(self.path):
            schema = "day timestamp, " + ", ".join(
                f"{k} string" for k in self.keys
            ) + ", n bigint, " + ", ".join(
                f"{c} double" for c in self.sum_cols
            )
            return self.spark.createDataFrame([], schema)
        # day_part is the physical partition column; day (timestamp)
        # rides along as a data column — drop the partition copy
        return (
            self.spark.read.option("basePath", self.path)
            .parquet(self.path)
            .drop("day_part")
        )

    def apply_batch(self, batch: DataFrame, _epoch_id: int = 0) -> None:
        """Merge one micro-batch: re-aggregate affected days from
        (stored partial + batch partial), overwrite just those day
        partitions. Usable directly as a foreachBatch target."""
        delta = self._aggregate(batch).cache()
        try:
            days = [r.day for r in delta.select("day").distinct().collect()]
            if not days:
                return
            current = self.read().where(F.col("day").isin(days))
            merged = (
                current.unionByName(delta)
                .groupBy("day", *self.keys)
                .agg(
                    F.sum("n").alias("n"),
                    *[F.sum(c).alias(c) for c in self.sum_cols],
                )
            )
            # truncate lineage EAGERLY: the write overwrites partitions
            # this plan reads from — a lazy plan (or an evicted cache)
            # would read-after-delete
            merged = merged.localCheckpoint(eager=True)
            prev = self.spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode", "static"
            )
            self.spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", "dynamic"
            )
            try:
                (
                    merged.withColumn("day_part", F.date_format("day", "yyyy-MM-dd"))
                    .write.mode("overwrite")
                    .partitionBy("day_part")
                    .parquet(self.path)
                )
            finally:
                self.spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", prev
                )
        finally:
            delta.unpersist()
