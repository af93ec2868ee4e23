"""Iterative graph operators (the dedup endgame).

Near-dup detection yields PAIRS; eliminating duplicates needs
CLUSTERS — the transitive closure of the pair graph (A~B, B~C ⇒
{A,B,C} keep one). ``connected_components`` is minimum-label
propagation: every node repeatedly adopts the smallest label among
itself and its neighbors until fixpoint.

Scale notes: each iteration is one join + one grouped min on the edge
list (both shuffle on node id — co-partitioned after the first
round); iterations needed = graph diameter, and dup-cluster graphs
are shallow (near-cliques), so 3-5 rounds close virtually all real
corpora. localCheckpoint per round truncates the growing lineage —
without it the plan doubles every iteration and the driver OOMs
planning, not executing.

The frames every iteration re-reads (edge lists, degrees) are
``localCheckpoint(eager=True)``-ed once before the loop, so their
build never lands on an iteration's clock. AQE broadcasts the
node-sized join side at single-node scale, so the edge list does not
shuffle in the loop."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "connected_components",
    "pagerank_int",
    "k_core",
]


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iter: int = 10,
) -> DataFrame:
    """(node, component) for every node in the edge list; component =
    min node id reachable. Converges in <= diameter iterations;
    raises if max_iter rounds don't reach fixpoint (pathological
    chain graphs — raise max_iter)."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = e.select("u").distinct().select(
        F.col("u").alias("node"), F.col("u").alias("label")
    ).localCheckpoint(eager=False)

    for _ in range(max_iter):
        neighbor_min = (
            e.join(labels, e.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nb_label"))
        )
        # carry the changed flag THROUGH the checkpoint: the fixpoint
        # test is then a scan-count over the materialized frame
        # instead of a second labels-join action per round
        new_label = F.least(
            F.col("label"), F.coalesce(F.col("nb_label"), F.col("label"))
        )
        # LAZY checkpoint + the convergence probe as the round's ONE
        # action (r16, guide §2.4/§2.6): the probe's count
        # materializes the checkpoint as a side effect, so each round
        # pays a single job instead of an eager-materialize job PLUS
        # a probe job. Lineage still truncates identically.
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.u, "left")
            .select(
                "node",
                new_label.alias("label"),
                (new_label != F.col("label")).alias("_chg"),
            )
            .localCheckpoint(eager=False)
        )
        # full count, not limit(1): with a LAZY checkpoint a limit
        # probe runs incremental partition batches (1, 4, 20, ...)
        # and rescans everything across several jobs on converged
        # rounds; one count() is one job and materializes the
        # checkpoint in the same pass
        changed = updated.where(F.col("_chg")).count()
        labels = updated.select("node", "label")
        if changed == 0:
            return labels.select("node", F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations"
    )


def pagerank_int(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    *,
    iterations: int = 3,
    unit: int = 10**12,
) -> DataFrame:
    """INTEGER-EXACT PageRank (damping 0.85), fixed iteration count.

    All arithmetic is bigint: ranks live in ``unit`` micro-units,
    per-edge transfers are ``(rank * w) DIV deg``, ``deg`` the sum of
    the source's out-edge weights, and the damping step is
    ``(85 * sum) DIV 100`` — so the result is INDEPENDENT OF SUMMATION
    ORDER (bigint addition is associative/commutative where double
    addition is not), which is what lets an iterative algorithm
    survive a cross-engine value-hash oracle and re-run bit-identically
    on any cluster layout. The rounding the integer divisions
    introduce is far below any ranking use's noise floor (1 micro-unit
    in 10^12).

    Without ``weight`` every edge weighs 1 (``deg`` is the out-degree
    and a transfer is ``rank DIV deg``). With it, mass flows in
    proportion to the ``weight`` column — the trade-volume centrality
    unit edges can't express (a hub with one heavy partner ranks
    differently from a hub with many light ones); overflow is LOUD:
    assert_true bounds edge weights at 2^20 so rank·w stays far inside
    int64 (rank ≤ unit ≈ 2^40). The edge list is used as given:
    duplicate edges count twice.

    Scale: per iteration one node-keyed join (ranks onto edges) + one
    grouped sum on the destination — co-partitioned after round one —
    and a localCheckpoint to truncate lineage (same discipline as
    connected_components). The node count is the single driver
    scalar.

    The in-loop checkpoints are LAZY (eager=False, r13): a fixed
    iteration count has no mid-loop action — unlike the CC loop,
    whose convergence count needs an eager barrier each round — so
    all iterations pipeline into the caller's single action instead
    of paying one synchronous job round-trip per iteration. Ranks are
    bit-identical either way (parity- and oracle-pinned). The Catalyst
    plan is truncated to a LogicalRDD either way, so the
    driver-plan-growth hazard the checkpoints exist for stays closed;
    at 3 iterations the deferred RDD chain is shallow.

    Returns (node, deg, rank_units). Dangling nodes are the caller's
    concern — symmetrize the edge list (as the bipartite catalog
    queries do) and there are none."""
    ends = [F.col(src).alias("src"), F.col(dst).alias("dst")]
    e = edges.select(*ends)
    deg_of, transfer = F.count("*"), "r DIV deg"
    if weight:
        e = edges.select(*ends, F.col(weight).cast("bigint").alias("w")).where(
            F.assert_true(
                F.col("w") < F.lit(2**20),
                F.lit(
                    "pagerank_int: edge weight >= 2^20 — "
                    "rank*w could overflow int64; rescale weights"
                ),
            ).isNull()
        )
        deg_of, transfer = F.sum("w"), "(r * w) DIV deg"
    e = e.localCheckpoint(eager=True)
    deg = (
        e.groupBy("src")
        .agg(deg_of.cast("bigint").alias("deg"))
        .localCheckpoint(eager=True)
    )
    n = deg.count()
    base = (15 * unit) // (100 * n)  # exact int — replayed by the oracle
    ranks = deg.select(
        F.col("src").alias("node"),
        "deg",
        F.lit(unit // n).cast("bigint").alias("r"),
    ).localCheckpoint(eager=True)
    for _ in range(iterations):
        contrib = e.join(
            ranks.select(F.col("node").alias("src"), "r", "deg"), "src"
        ).select("dst", F.expr(transfer).alias("contrib"))
        total = contrib.groupBy("dst").agg(F.sum("contrib").alias("total"))
        ranks = (
            deg.join(total, deg.src == total.dst, "left")
            .select(
                F.col("src").alias("node"),
                "deg",
                (
                    F.lit(base)
                    + F.expr("(85 * coalesce(total, 0L)) DIV 100")
                ).cast("bigint").alias("r"),
            )
            .localCheckpoint(eager=False)  # lazy: see docstring
        )
    return ranks.select("node", "deg", F.col("r").alias("rank_units"))


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "x",
    dst: str = "y",
    *,
    max_iter: int = 30,
    checkpoint_input: bool = True,
) -> DataFrame:
    """The k-core subgraph (edge list) — iteratively peel nodes with
    degree < k until fixpoint (Matula & Beck). Each round is one
    degree aggregation (materialized ONCE per round — the emptiness
    probe and both anti-joins read the same checkpointed bad-vertex
    frame, not three re-executions of the degree subtree) + two
    anti-joins on the SHRINKING edge list, localCheckpointed so the
    lineage stays flat; rounds needed = peeling depth. Pass
    checkpoint_input=False when the caller's edge list is already
    materialized (e.g. chaining cores at increasing k) to skip a
    redundant job. Raises if max_iter rounds don't converge
    (pathological long chains — raise max_iter)."""
    e = edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
    if checkpoint_input:
        e = e.localCheckpoint(eager=True)
    for _ in range(max_iter):
        deg = (
            e.select(F.col("x").alias("v"))
            .unionAll(e.select(F.col("y").alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("d"))
        )
        bad = (
            deg.where(F.col("d") < k)
            .select("v")
            .localCheckpoint(eager=True)
        )
        if bad.limit(1).count() == 0:
            return e
        e = (
            e.join(bad.withColumnRenamed("v", "x"), "x", "left_anti")
            .join(bad.withColumnRenamed("v", "y"), "y", "left_anti")
            .select("x", "y")
            .localCheckpoint(eager=True)
        )
    raise RuntimeError(f"k_core(k={k}) did not converge in {max_iter} rounds")
