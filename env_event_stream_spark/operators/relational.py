"""Relational core: joins / aggregations / windows / set ops / top-k.

The reference has NO relational operators (SURVEY.md §2.3-2.7) — its
only lookups are map-gets. These are the contract-mandated GAP
operators, exposed as thin declarative builders so Catalyst keeps
full freedom (join strategy selection, partial aggregation, pushdown).

Scale notes baked into each builder:
- ``join`` takes a ``broadcast_right`` flag — dimensions (region,
  nation, supplier, ...) stay in memory on every executor; the big
  fact table never shuffles for them.
- as-of join is the union+window trick: O(n log n) per key via a
  single sort-within-partition instead of a per-row subquery; no
  driver-side loop, no cross join.
- top-k is ``orderBy().limit()`` which Catalyst executes as
  TakeOrderedAndProject (per-partition heap + driver merge, no global
  sort).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "join",
    "asof_join",
    "salted_join",
    "top_k",
    "top_k_per_group",
]


def join(
    left: DataFrame,
    right: DataFrame,
    on,
    how: str = "inner",
    *,
    broadcast_right: bool = False,
) -> DataFrame:
    """Equi/semi/anti/outer join. ``broadcast_right=True`` hints the
    dimension side below the broadcast threshold regardless of stats —
    at 100 TB the fact side must never shuffle for a small dim."""
    if broadcast_right:
        right = F.broadcast(right)
    return left.join(right, on, how)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    *,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi-join for a hot-keyed LEFT side.

    The left (skewed) side gets a salt in [0, n_salts); the right side
    is replicated n_salts× via explode; the join key becomes
    (keys..., salt). A key holding 30% of the rows now lands on
    n_salts partitions instead of one — the classic manual remedy
    when AQE's skew splitting can't apply (e.g. the skewed side
    feeds an aggregation that pins partitioning). Cost: right side
    ×n_salts (use for large-left × modest-right).

    Results are identical to a plain join (the salt is an internal
    column, dropped on output) — pinned by tests/test_skew.py.

    Only left-preserving joins are allowed: with the right side
    exploded across all salts, an UNMATCHED right row would surface
    n_salts times under right/full outer joins, so those are
    rejected rather than silently wrong."""
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "left_anti", "leftanti", "semi", "anti"):
        raise ValueError(
            f"salted_join: how={how!r} not supported — the exploded "
            "right side would duplicate unmatched right rows; use a "
            "left-preserving join (inner/left/semi/anti)"
        )
    keys = list(on)
    sl = left.withColumn(
        "_salt", (F.monotonically_increasing_id() % n_salts).cast("int")
    )
    sr = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i).cast("int") for i in range(n_salts)]))
    )
    return sl.join(sr, [*keys, "_salt"], how).drop("_salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_vals: Sequence[str],
    *,
    direction: str = "backward",
    strict: bool = False,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_ts <= left_ts`` (direction='backward') or the earliest
    right row with ``right_ts >= left_ts`` (direction='forward'),
    within the same ``on`` keys. Semantics match
    ``pandas.merge_asof(direction=...)`` (property-tested in
    tests/test_properties.py).

    Spark lacks a native as-of join; the scalable composition is
    union + last/first(ignorenulls) window:
      1. tag both sides, union by a common schema
      2. sort within (keys, ts) — one shuffle on the join keys
      3. carry right-side values forward (backward as-of: last over
         the preceding frame) or backward (forward as-of: first over
         the following frame) with ignorenulls
      4. keep left rows
    This is O(n log n) per key, shuffle-partitioned by the join keys,
    and never materializes a cross product — it would survive a 100×
    scale-up where a per-row correlated subquery would not.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"asof_join: unknown direction {direction!r}")
    on = list(on)
    lcols = list(left.columns)
    l = left.select(
        *lcols,
        F.col(left_ts).alias("_asof_ts"),
        F.lit(1).alias("_is_left"),
        *[F.lit(None).cast(right.schema[v].dataType).alias(f"_r_{v}") for v in right_vals],
    )
    r = right.select(
        *[
            (F.col(c) if c in on else F.lit(None).cast(left.schema[c].dataType)).alias(c)
            for c in lcols
        ],
        F.col(right_ts).alias("_asof_ts"),
        F.lit(0).alias("_is_left"),
        *[F.col(v).alias(f"_r_{v}") for v in right_vals],
    )
    u = l.unionByName(r)
    if direction == "backward":
        # frame = everything at-or-before the current row. Tie rule:
        # non-strict (<=) right rows at equal ts must land INSIDE the
        # left row's preceding frame -> right sorts first; strict (<)
        # -> left sorts first so equal-ts right rows fall outside.
        order = [
            F.col("_asof_ts").asc(),
            F.col("_is_left").asc() if not strict else F.col("_is_left").desc(),
        ]
        w = (
            Window.partitionBy(*on)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        pick = lambda c: F.last(c, ignorenulls=True)  # noqa: E731
    else:
        # forward: frame = everything at-or-after the current row.
        # Tie rule mirrors backward: non-strict (>=) right rows at
        # equal ts must land INSIDE the left row's following frame ->
        # left sorts first (_is_left desc puts 1 before 0); strict ->
        # right sorts first so equal-ts right rows fall outside.
        order = [
            F.col("_asof_ts").asc(),
            F.col("_is_left").desc() if not strict else F.col("_is_left").asc(),
        ]
        w = (
            Window.partitionBy(*on)
            .orderBy(*order)
            .rowsBetween(0, Window.unboundedFollowing)
        )
        pick = lambda c: F.first(c, ignorenulls=True)  # noqa: E731
    for v in right_vals:
        u = u.withColumn(f"_r_{v}", pick(f"_r_{v}").over(w))
    out = u.where(F.col("_is_left") == 1).drop("_is_left", "_asof_ts")
    for v in right_vals:
        out = out.withColumnRenamed(f"_r_{v}", v)
    return out


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Global top-k -> TakeOrderedAndProject (no full sort)."""
    return df.orderBy(*order).limit(k)


def top_k_per_group(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column], k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k within each group via row_number — one shuffle on keys."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).where(F.col(rank_col) <= k)


def top_k_per_group_partial(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    k: int,
    *,
    descending: bool = True,
    tiebreak: str,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k per group with a MAP-SIDE heap: each partition keeps at
    most k candidate rows per group (incremental pandas head-k, memory
    O(groups-in-partition × k + batch)) BEFORE the shuffle, then the
    exact row_number window runs over the survivors. Identical result
    to top_k_per_group — per-partition top-k is a superset of every
    group's global top-k contribution from that partition — but the
    exchange carries ≤ k × groups × partitions rows instead of the
    whole table.

    When to use which: this wins when rows-per-group-per-partition
    >> k (few hot groups — per-type/per-tenant leaderboards over
    event streams); the plain window wins when groups are fine-grained
    (per-customer over orders: ~1 row per group per partition, the
    prefilter keeps everything and just adds a pass)."""
    import pandas as pd

    asc = not descending
    key_list = list(keys)
    # Spark null order: asc() = NULLS FIRST, desc() = NULLS LAST —
    # pandas must match or a null order value ranks differently in the
    # prefilter than in the final window (and dropna must be off or a
    # NULL group key vanishes entirely). tiebreak is assumed non-null
    # (it's an id column); pandas supports one na_position for all
    # sort keys.
    na_pos = "first" if asc else "last"

    def prefilter(batches):
        surv: pd.DataFrame | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            pool = pdf if surv is None else pd.concat([surv, pdf])
            surv = (
                pool.sort_values(
                    [order_col, tiebreak],
                    ascending=[asc, True],
                    kind="mergesort",
                    na_position=na_pos,
                )
                .groupby(key_list, sort=False, dropna=False)
                .head(k)
            )
        if surv is not None:
            yield surv

    pre = df.mapInPandas(prefilter, schema=df.schema)
    order = [
        F.col(order_col).desc() if descending else F.col(order_col).asc(),
        F.col(tiebreak).asc(),
    ]
    return top_k_per_group(pre, key_list, order, k, rank_col)
