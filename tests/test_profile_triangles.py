"""dq_profile and triangle counting: cross-checks the SQL oracle
can't express — brute-force triangle enumeration on the small graph,
and profile stats recomputed row-by-row in Python."""

from __future__ import annotations

from itertools import combinations

from env_event_stream_spark.catalog import QUERIES


def test_triangles_match_bruteforce(spark, sf_dir):
    """Rebuild the capped co-purchase graph in Python and enumerate
    triangles over each node's neighbor pairs — must equal the
    degree-oriented distributed count exactly."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cp = {
        (r.l_partkey, r.o_custkey)
        for r in li.join(o, li.l_orderkey == o.o_orderkey)
        .select("l_partkey", "o_custkey")
        .distinct()
        .collect()
    }
    by_part: dict[int, set[int]] = {}
    for pk, ck in cp:
        by_part.setdefault(pk, set()).add(ck)
    shared: dict[tuple[int, int], int] = {}
    for pk, cks in by_part.items():
        if len(cks) > 25:
            continue
        for x, y in combinations(sorted(cks), 2):
            shared[(x, y)] = shared.get((x, y), 0) + 1
    edges = {e for e, n in shared.items() if n >= 2}
    adj: dict[int, set[int]] = {}
    for x, y in edges:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    tri = (
        sum(
            1
            for v, nb in adj.items()
            for a, b in combinations(sorted(nb), 2)
            if b in adj.get(a, ())
        )
        // 3
    )
    wedges = sum(len(nb) * (len(nb) - 1) // 2 for nb in adj.values())
    row = QUERIES["graph_triangles_copurchase"](spark, sf_dir).collect()[0]
    assert row.n_nodes == len(adj)
    assert row.n_edges == len(edges)
    assert row.n_wedges == wedges
    assert row.n_triangles == tri


def test_profile_matches_python_recount(spark, sf_dir):
    """Null/distinct/min/max/mean per column recomputed from
    collected rows (exact integer-cent mean for the money columns)."""
    rows = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
    out = {r.col_name: r for r in QUERIES["dq_profile_lineitem"](spark, sf_dir).collect()}
    assert set(out) == {
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }
    n = len(rows)
    for col in ("l_orderkey", "l_quantity", "l_extendedprice"):
        vals = [getattr(r, col) for r in rows if getattr(r, col) is not None]
        p = out[col]
        assert p.n_rows == n
        assert p.n_null == n - len(vals)
        assert p.n_distinct == len(set(vals))
        assert float(p.min_num) == min(vals)
        assert float(p.max_num) == max(vals)
        # mean via exact micro-unit integers, floor(x*1e4+.5) rounding
        total = sum(round(v * 1_000_000) for v in vals)
        mean = total / 1_000_000 / len(vals)
        import math

        assert abs(p.mean_num - math.floor(mean * 10000 + 0.5) / 10000) < 1e-9
    p = out["l_returnflag"]
    flags = [r.l_returnflag for r in rows]
    assert p.min_str == min(flags) and p.max_str == max(flags)
    assert p.mean_num is None and p.min_num is None
    sd = out["l_shipdate"]
    assert sd.min_str is None and sd.mean_num is None
    assert sd.n_distinct == len({r.l_shipdate for r in rows})


def test_grouped_split_never_leaks(spark, sf_dir):
    """The guarantee the query exists for: zero near-dup pairs cross
    splits under the cluster-keyed policy, and the naive policy's
    counts sum to the same corpus size."""
    from env_event_stream_spark.catalog import QUERIES

    rows = {r.policy: r for r in QUERIES["doc_split_leakage_guard"](spark, sf_dir).collect()}
    assert set(rows) == {"naive", "grouped"}
    g, n = rows["grouped"], rows["naive"]
    assert g.leaked_pairs == 0
    assert (
        g.n_train + g.n_val + g.n_test
        == n.n_train + n.n_val + n.n_test
    )


def test_ppjoin_candidates_complete_and_smaller(spark, sf_dir):
    """Prefix filtering must lose NOTHING (n_missed = 0 — the
    completeness theorem checked on data) while generating no more
    candidates than the raw inverted index."""
    from env_event_stream_spark.catalog import QUERIES

    row = QUERIES["doc_ppjoin_stats"](spark, sf_dir).collect()[0]
    assert row.n_missed == 0
    assert row.n_cand_prefix <= row.n_cand_inverted
    assert row.n_true_pairs <= row.n_cand_prefix


def test_scurve_high_bucket_detects_and_low_bucket_rarely(spark, sf_dir):
    """The S-curve's reason to exist: near-dups (J >= 0.9) must be
    detected at ~the theoretical rate (>= 0.99 at 4x4 banding) and
    barely-similar pairs must be detected rarely (within 0.15 of the
    tiny theoretical rate — LSH's whole point is NOT surfacing
    them)."""
    from env_event_stream_spark.catalog import QUERIES

    rows = {r.bucket: r for r in QUERIES["doc_minhash_scurve"](spark, sf_dir).collect()}
    assert rows, "no buckets with data"
    if 9 in rows:
        assert rows[9].obs_rate >= 0.99
    low = [r for b, r in rows.items() if b <= 2]
    for r in low:
        assert r.obs_rate <= r.theory_rate + 0.15, (r.bucket, r.obs_rate)
