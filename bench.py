"""Benchmark runner: the headline catalog queries, timed end to end.

Runs every ``HEADLINE`` query on the dataset dir $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data) on local[$SPARK_GRAFT_CPUS], in two
passes over the suite, and prints ONE JSON line. Each query is timed to full
materialization (count of the result — cheaper than collect for wide
results, still executes the whole plan).

One timing rule: a query's time is the min of its passes that
succeeded, ``value`` is the sum of those mins, ``noise`` is the band
of the relative spread between the two passes, and ``failed`` lists
the queries with no valid pass. Every query's ``{p1, p2, min}`` goes
to the artifact ``BENCH_FULL.json`` (``BENCH_FULL.sf<sf>.json`` at any
other scale); the printed line carries the slowest mins that fit.

Run: ``SPARK_GRAFT_SF_DIR=<an sf0.01 dataset dir> python bench.py``
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from env_event_stream_spark.session import get_spark  # noqa: E402

# Headline set: one per operator family (scan/filter/limit, grouped agg,
# star join, window, as-of, sessionize, fold, top-k, dedup/similarity
# once they land). Keep names stable across rounds for judge deltas.
HEADLINE = [
    "evt_replay",
    "evt_type_counts",
    "evt_fold_running",
    "evt_sessionize",
    "evt_rehydrate_latest",
    "tpch_q1_pricing",
    "join_revenue_by_region",
    "asof_purchase_prior_view",
    "window_top3_orders_per_cust",
    "topk_orders_global",
    "doc_dedup_exact",
    "doc_minhash_pairs",
    "doc_token_stats",
    "emb_knn_topk",
    # round-1 additions (keep list append-only for judge deltas)
    "tpch_q5_local_supplier",
    "tpch_q6_forecast",
    "tpch_q18_large_orders",
    "emb_knn_ivf",
    "doc_quality_score",
    "mm_decode_features",
    "doc_decontaminate",
    "doc_pack_sequences",
    "emb_quantize_int8",
    # round-2 additions
    "doc_simhash_pairs",
    "asof_purchase_next_view",
    "emb_knn_ivf_trained",
    "doc_unigram_logprob",
    "doc_bpe_token_stats",
    # round-5 additions
    "evt_funnel_steps",
    "doc_gopher_quality_rules",
    "doc_chunk_overlap",
    "emb_lsh_recall_eval",
    "emb_quantize_pq",
    "emb_knn_pq_adc",
    "emb_knn_pq_trained",
    # round-6 additions
    "emb_knn_opq_adc",
    "emb_opq_recall_eval",
    "doc_dsir_sample",
    "doc_repeated_ngram_frac",
    "emb_multiprobe_recall_eval",
    # round-6 additions (second batch)
    "doc_phrase_heavy_hitters",
    "emb_knn_pq_rerank",
    "emb_semdedup",
    "doc_quality_classifier",
    # round-6 additions (third batch)
    "doc_perplexity_buckets",
    "doc_vocab_coverage",
    "emb_centroid_outliers",
    "emb_cluster_sample",
    "evt_attribution_last_touch",
    "doc_bpe_learn_merges",
    "doc_winnow_pairs",
    "doc_lm_heldout_eval",
    "evt_scd2_status_history",
    "evt_zorder_key",
    "window_top3_value_per_type",
    "evt_value_percentiles_by_type",
    "doc_winnow_spans",
    "evt_rolling_p95_by_type",
    "doc_bm25_topk",
    "doc_rrf_hybrid",
    "emb_hard_negatives",
    "evt_hist_percentiles_by_type",
    "doc_exactsubstr_spans",
    "doc_scrub_contamination",
    "graph_pagerank_custsupp",
    "evt_rolling_p95_hist_by_type",
    "evt_stream_hist_p95",
    "evt_ewma_daily_by_type",
    "evt_hll_distinct_users",
    "join_bloom_prefilter",
    "evt_stream_hll_users",
    "evt_attribution_linear",
    "evt_user_growth_curve",
    "doc_pretrain_token_yield",
    "emb_binary_recall_eval",
    "evt_fold_state_diff",
    "evt_cms_user_freq",
    "evt_kmv_overlap",
    "dq_profile_lineitem",
    "graph_triangles_copurchase",
    "evt_stream_cms_users",
    "evt_assoc_rules",
    "join_size_cms_estimate",
    "doc_split_leakage_guard",
    "evt_mad_outliers",
    "doc_ppjoin_stats",
    "evt_rolling_hll_wau",
    "doc_source_keywords",
    "evt_time_to_convert",
    "evt_stream_interval_join",
    "emb_knn_pq_residual",
    "emb_residual_recall_eval",
    "evt_hourly_seasonality",
    "evt_value_drift_ks",
    "evt_stream_rolling_wau",
    "doc_minhash_scurve",
    "evt_stream_kmv_users",
    "join_stream_size_cms",
    # round-7 additions
    "evt_holt_trend_daily",
    "evt_cusum_changepoint",
    "er_customer_entities",
    "emb_mmr_diversify",
    "evt_cep_pattern",
    "doc_classifier_calibration",
    "doc_source_psi",
    "emb_mmr_diversity_eval",
    "join_scd2_point_in_time",
    "evt_ab_test_conversion",
    "evt_holt_backtest",
    "evt_transition_eval",
    # round-8 catch-up (r8 shipped these but never appended them —
    # VERDICT r8 item 3)
    "evt_cep_within",
    "dq_referential_integrity",
    # round-9 additions
    "evt_holt_winters_daily",
    "evt_hw_backtest",
    "evt_cep_skip_modes",
    "evt_cep_error_burst",
    "doc_lcs_pairs",
    "emb_whiten_stats",
    "emb_whiten_labelknn_eval",
    "evt_stream_error_burst",
    # round-9 second-session additions
    "evt_hw_residual_anomaly",
    "doc_lcs_scrub",
    "emb_whiten_ivf_eval",
    "evt_stream_cep_funnel",
    "evt_stream_hw_forecast",
    "emb_ivf_cell_stats",
    "evt_stream_cusum",
    # round-9 third-session additions
    "evt_acf_daily",
    "evt_spearman_daily",
    "evt_mannwhitney_shift",
    "evt_stream_acf",
    "dq_key_skew",
    "evt_compaction_plan",
    "doc_pmi_collocations",
    "doc_textrank_keywords",
    "evt_stream_compaction_plan",
    "evt_zorder_pruning_eval",
    "emb_kmeans_lloyd",
    "evt_stream_spearman",
    "graph_label_propagation",
    "emb_kmeans_ivf_eval",
    "graph_link_prediction",
    "evt_top_paths",
    "emb_kmeans_elbow",
    "doc_priority_sample",
    "evt_seq_pair_support",
    "doc_priority_sample_eval",
    "asof_tolerance_join",
    "evt_markov_stationary",
    "evt_stream_seq_pairs",
    "evt_slo_burn_rate",
    "evt_stream_slo_burn",
    "graph_pagerank_weighted",
    "er_threshold_sensitivity",
    # round-10 additions
    "evt_cep_skip_modes_nested",
    "doc_unigram_lm_learn",
    "doc_unigram_lm_eval",
    "evt_stream_transitions",
    "doc_unigram_lm_encode",
    "evt_priority_sample",
    "evt_stream_priority_sample",
    "doc_unigram_lm_prune_eval",
    "doc_quality_rater_agreement",
    "emb_decontaminate",
    # round-11 addition
    "doc_quality_mixture",
]

# the printed line stays under this many chars (a log tail that keeps
# the last ~2000 chars still holds the whole line)
LINE_BUDGET = 1700


def summarize(p1: dict[str, float | None], p2: dict[str, float | None]) -> dict:
    """The bench record from two passes' timings, ``None`` where a
    query failed in that pass: per query ``{p1, p2, min}``, ``min``
    the least time of the passes that succeeded (None if neither did);
    ``value`` the sum of the mins; ``failed`` the queries with no
    valid pass; ``noise`` the band of ``|p1 - p2| / min`` over the
    queries that succeeded twice."""
    queries = {}
    for name, t1 in p1.items():
        t2 = p2.get(name)
        ok = [t for t in (t1, t2) if t is not None]
        queries[name] = {"p1": t1, "p2": t2, "min": min(ok) if ok else None}
    spreads = sorted(
        abs(q["p1"] - q["p2"]) / max(q["min"], 1e-9)
        for q in queries.values()
        if q["p1"] is not None and q["p2"] is not None
    )
    noise = {
        "n": len(spreads),
        "median_rel_spread": round(spreads[len(spreads) // 2], 4),
        "p90_rel_spread": round(spreads[int(len(spreads) * 0.9)], 4),
        "max_rel_spread": round(spreads[-1], 4),
    } if spreads else {}
    mins = [q["min"] for q in queries.values() if q["min"] is not None]
    return {
        "metric": "headline_suite_seconds",
        "value": round(sum(mins), 3),
        "unit": "sec",
        "queries": queries,
        "noise": noise,
        "failed": sorted(name for name, q in queries.items() if q["min"] is None),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark = get_spark("bench")

    # warm-up: JVM + parquet footer reads off the clock
    qs["evt_type_counts"](spark, sf_dir).count()
    # ... and the Python worker pool: without this the suite's FIRST
    # Arrow stage absorbs ~1.5 s of worker startup
    spark.createDataFrame([(1,)], "x int").mapInPandas(
        lambda it: (b for b in it), "x int"
    ).count()

    def time_query(name: str) -> float | None:
        # one query crashing must not zero the suite: None marks the
        # failure and the rest are still timed
        t0 = time.time()
        try:
            qs[name](spark, sf_dir).count()
            took = round(time.time() - t0, 3)
        except Exception as exc:  # noqa: BLE001
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
            took = None
        # drop cached tables a query left behind OFF the clock, so one
        # query's cache pressure doesn't bill the next
        spark.catalog.clearCache()
        return took

    p1, p2 = ({name: time_query(name) for name in HEADLINE} for _ in range(2))
    full = {**summarize(p1, p2), "sf": sf}

    artifact = "BENCH_FULL.json" if sf == 0.1 else f"BENCH_FULL.sf{sf}.json"
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, artifact), "w") as f:
            json.dump(full, f)
            f.write("\n")
    except OSError as exc:  # read-only checkout must not kill bench
        print(f"bench: {artifact} not written: {exc}", file=sys.stderr)

    # the printed line: the slowest queries' mins that fit the budget
    by_slow = sorted(
        ((k, q["min"]) for k, q in full["queries"].items() if q["min"] is not None),
        key=lambda kv: -kv[1],
    )
    for keep in range(len(by_slow), -1, -1):
        line = json.dumps({
            **full,
            "queries": dict(by_slow[:keep]),
            "queries_omitted": len(full["queries"]) - keep,
            "full": artifact,
        })
        if len(line) <= LINE_BUDGET:
            break
    print(line)


if __name__ == "__main__":
    main()
