"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with a cheap count-collect (the driver collects
entry() itself); timings are wall-clock per query after a shared session
warm-up so JVM startup isn't billed to the first query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from assignment_etl_spark.caching import release_scoped_caches
from assignment_etl_spark.session import get_spark

HEADLINE = [
    "pricing_summary",
    "top_revenue_orders",
    "revenue_by_region",
    "rollup_revenue",
    "shipping_priority",
    "local_supplier_volume",
    "returned_items",
    "segment_order_stats",
    "top_orders_per_customer",
    "histogram_extendedprice",
    "percentile_stats",
    "event_pairs_15min",
    "asof_join_purchases",
    "hourly_to_daily_rollup",
    "unit_normalization",
    "weight_normalization",
    "date_lattice_roundtrip",
    "json_extract_stats",
    "dedup_exact_documents",
    "text_stats_by_lang",
    "top_words",
    "similarity_topk",
    "ivf_similarity_topk",
    "minhash_lsh_pairs",
    "streaming_hourly_events",
    "session_windows",
    "skewed_agg_salted",
    "nation_trade_volume",
    "brand_quantity_revenue",
    "dedup_lines_corpus",
    "gapfill_user_timeseries",
    "decontaminate_documents",
    "cluster_centroids",
    "priority_sample_orders",
    "nation_market_share",
    "sole_returning_supplier",
    "order_count_distribution",
    # round-3 additions (no BENCH_BASELINE entry until its next single-session
    # regeneration; bench tolerates missing baselines)
    "perplexity_top_docs",
    "frame_sample_stats",
    "vocab_encode_documents",
    "tfidf_top_terms",
    # round-4 additions
    "min_cost_supplier",
    "part_value_concentration",
    "dominant_part_suppliers",
    "cell_probe_topk",
    "chunk_documents",
    "asof_forward_tolerance",
    "asof_nearest_purchase",
    "hll_distinct_users",
    "cm_event_type_counts",
    # round-4 second-half additions
    "bloom_join_prune",
    "psi_order_drift",
    "chi_square_orders",
    "fuzzy_match_customers",
    "keyword_search_index",
    "pagerank_event_graph",
    "sessionize_events",
    "global_row_number_orders",
    "geo_radius_pairs",
    "k_anonymity_audit",
    # round-4 closing-session additions
    "semantic_dedup_embeddings",
    "c4_line_filter",
    "bm25_search",
    "curation_pipeline_funnel",
    "dedup_keep_best_quality",
    "attribution_last_touch",
    "ewma_user_value",
    "skyline_orders",
    "pmi_collocations",
    "cohort_retention_events",
    # round-5 additions (no BENCH_BASELINE entry until its next
    # regeneration; bench tolerates missing baselines)
    "cell_multiprobe_topk",
    "nb_quality_classifier",
    "knn_shapley_valuation",
    "cuped_events",
    "bpe_train_merges",
    "cuped_ab_test_events",
    "label_noise_suspects",
    "nb_score_calibration",
    "source_overlap_matrix",
    "rank_agreement_quality_length",
    "interval_overlap_events",
    "dp_noisy_counts_events",
    "jl_project_embeddings",
    "lexical_diversity_by_lang",
    "zipf_slope_documents",
    "hits_event_graph",
    # round-6 additions (no BENCH_BASELINE entry until its next
    # regeneration; bench tolerates missing baselines)
    "interval_overlap_split_events",
    "ks_test_prices",
    "mannwhitney_quantity",
    "pq_codebook_embeddings",
    "pq_adc_topk",
    "ivfpq_search_topk",
    "mmr_diverse_topk",
    "kneser_ney_bigrams",
    "conformal_threshold_events",
    "bh_fdr_segments",
    "cusum_changepoint_events",
    "association_rules_events",
    "kaplan_meier_users",
    "quality_auc_documents",
    "good_turing_documents",
    "theil_sen_trend_events",
    "heaps_law_documents",
    "kcenter_coreset_embeddings",
    # -- round 8
    "incremental_minhash_documents",
    # -- round 7
    "kll_quantiles_orders",
    "kll_rank_orders",
    "wordpiece_train_merges",
    "heavy_hitters_orders",
    "sequence_packing_documents",
    # unigram_lm_vocab is gate-certified but excluded here: the fixed
    # ~40-stage Viterbi-EM DP (localCheckpoint per position per
    # iteration) costs ~13s at ANY sf — scheduler latency, not data;
    # its cost profile and sf curve live in SCALE.md next to the other
    # iterative trainers (nndescent/beam-search precedent)
    # knn_graph_nndescent is gate-certified but excluded here: a full
    # corpus graph build is a build-once artifact, out of scale with
    # the per-query bench (the split build/search three-point table
    # lives in SCALE.md — production build 20.0s at sf10, search flat);
    # knn_graph_beam_search is excluded for the same reason (its gate
    # materializes the graph artifact before searching so the oracle
    # can unroll both halves — recall/cost curves live in SCALE.md);
    # knn_graph_salted_seed (r10) is the same build-once family — it
    # exists to hash-certify the production salted dataflow, and its
    # build cost is already measured split in SCALE.md's knn table
]

# ---------------------------------------------------------------------------
# The deliberately-not-benched registry queries, AS DATA (VERDICT r7 ask
# #4): HEADLINE ∪ EXCLUDED must exactly partition __spark_entry__.queries().
# check_registry_partition() enforces it on every bench run, and
# tests/test_entry_contract.py pins it, so a new gate cannot silently land
# in neither list and a headline rename cannot orphan an exclusion.
# Cross-linked from COVERAGE.md ("Bench protocol").

_R_IO = (
    "fixture/store roundtrip gate: times temp-dir write+read of a "
    "synthesized store, not query throughput; the io path is benched "
    "end-to-end by tools/pipeline_bench.py"
)
_R_STREAM = (
    "micro-batch streaming gate: availableNow trigger startup dominates "
    "at bench SFs; the streaming family's data-proportional cost is "
    "benched via streaming_hourly_events + session_windows"
)
_R_ITER = (
    "fixed-iteration trainer with ~sf-invariant scheduler latency "
    "(localCheckpoint/collect per round); benching it times the "
    "scheduler, not the data — cost profile + sf curves live in SCALE.md "
    "(nndescent precedent, SCALE.md beam-sweep/unigram tables)"
)
_R_GRAPH = (
    "fixed-iteration Pregel-in-joins loop; the graph family's "
    "data-proportional cost is benched via pagerank_event_graph + "
    "hits_event_graph, and per-operator sf curves live in SCALE.md"
)
_R_VARIANT = (
    "same scan/shuffle/plan-shape family as a benched headline "
    "representative; adding it re-times an already-measured plan and "
    "inflates bench wall without new signal (headline targets ~2 min "
    "per round at sf0.1)"
)

EXCLUDED: dict[str, str] = {
    **{n: _R_IO for n in (
        "band_store_lifecycle",
        "jsonl_roundtrip",
        "messy_csv_roundtrip",
        "optimize_table_roundtrip",
        "orc_roundtrip",
        "quality_logs_roundtrip",
        "schema_evolution_roundtrip",
        "targeted_delete_roundtrip",
        "time_travel_diff",
        "time_travel_read",
        "xml_shred_roundtrip",
    )},
    **{n: _R_STREAM for n in (
        "streaming_cm_counts",
        "streaming_cusum_events",
        "streaming_hll_users",
        "streaming_join_pairs",
        "streaming_psi_drift",
        "streaming_stateful_totals",
        "streaming_upsert_latest",
    )},
    **{n: _R_ITER for n in (
        "knn_graph_beam_search",
        "knn_graph_nndescent",
        "knn_graph_salted_seed",
        "unigram_lm_vocab",
    )},
    **{n: _R_GRAPH for n in (
        "cc_label_propagation",
        "khop_reachable_graph",
        "triangle_count_graph",
    )},
    **{n: _R_VARIANT for n in (
        "ab_conversion_events",
        "ab_test_events",
        "audio_decode_stats",
        "audio_downsample_stats",
        "augment_word_dropout",
        "backoff_sppl_top_docs",
        "benford_orders",
        "bpe_encode_documents",
        "bucketed_join_revenue",
        "byte_fallback_encode",
        "cm_join_size_orders",
        "concentration_orders",
        "contract_orders",
        "cube_lineitem",
        "curriculum_order_documents",
        "customers_with_orders_semi",
        "customers_without_orders",
        "dedup_window_events",
        "distinct_customers",
        "dsir_top_docs",
        "embedding_near_dup",
        "entropy_orders",
        "event_sequence_counts",
        "event_transitions",
        "event_type_counts",
        "exact_stratified_sample",
        "except_all_lineitem",
        "fd_repair_events",
        "fuzzy_audit_log_customers",
        "fingerprint_cluster_customers",
        "fk_graph_audit",
        "funnel_view_purchase",
        "golden_record_customers",
        "gopher_quality_flags",
        "grouping_sets_orders",
        "hard_negatives_topk",
        "hash_split_documents",
        "histogram_orders_time",
        "histogram_quantiles_orders",
        "idle_customer_balance",
        "image_decode_stats",
        "image_resize_stats",
        "impute_median_orders",
        "incremental_agg_orders",
        "incremental_dedup_documents",
        "incremental_join_view",
        "iqr_outliers_orders",
        "kfold_split_documents",
        "kmeans_embeddings",
        "lang_detect_agreement",
        "large_volume_customers",
        "late_dim_reconcile",
        "late_shipment_priority",
        "lorenz_curve_orders",
        "lsh_similarity_topk",
        "mixture_sample_documents",
        "model_score_histogram",
        "multimodal_features",
        "mutual_info_orders",
        "negative_sample_parts",
        "ngram_jaccard_adjacent",
        "normalize_price_zscore",
        "novelty_scores_documents",
        "order_gaps",
        "pack_sequences",
        "part_supplier_counts",
        "percent_rank_orders",
        "phrase_search_documents",
        "pii_scrub_stats",
        "pivot_revenue",
        "priority_count_by_status",
        "priority_customer_except",
        "priority_customer_intersect",
        "priority_distinct_customers",
        "product_profit",
        "profile_orders",
        "promo_revenue",
        "quality_score_distribution",
        "quantile_bin_orders",
        "quantize_embeddings",
        "readability_documents",
        "repetition_profile",
        "rfm_segments",
        "ri_orphan_orders",
        "robust_outliers",
        "rolling_corr_events",
        "rolling_user_value",
        "running_revenue",
        "scatter_sample_orders",
        "scd2_customer_priority",
        "scd2_point_in_time",
        "sex_code_mapping",
        "shuffle_head",
        "simhash_buckets",
        "sliding_distinct_users",
        "small_quantity_revenue",
        "span_corruption_documents",
        "stratified_sample_documents",
        "substring_dedup_profile",
        "survival_users",
        "table_diff_orders",
        "temperature_mixture_sample",
        "top_revenue_supplier",
        "top_users_by_events",
        "trend_slope_users",
        "unpivot_lineitem_metrics",
        "url_domain_curation",
        "user_stickiness",
        "video_decode_stats",
        "vocab_head",
        "winsorize_prices",
        "zorder_keys_events",
    )},
}


def check_registry_partition(queries: dict) -> None:
    """HEADLINE ∪ EXCLUDED == registry, disjointly — every gate is either
    benched or excluded WITH a reason; fails naming the offending gates."""
    reg, head, excl = set(queries), set(HEADLINE), set(EXCLUDED)
    unaccounted = sorted(reg - head - excl)
    both = sorted(head & excl)
    stale = sorted((head | excl) - reg)
    if unaccounted or both or stale:
        raise AssertionError(
            "bench registry partition broken — "
            f"in registry but neither benched nor excluded: {unaccounted}; "
            f"both benched and excluded: {both}; "
            f"benched/excluded but not in registry: {stale}"
        )


def warm_up(spark, queries, sf_dir) -> None:
    """JVM and parquet footer caches — not billed to any query."""
    queries["event_type_counts"](spark, sf_dir).collect()
    # List-head warm (VERDICT r9 ask #6): the first HEADLINE query used to
    # absorb the session's remaining one-off codegen/JIT cost that the
    # generic warm-up above doesn't reach (whole-stage-codegen compiler
    # classes, HashAggregate JIT tiers), which made fresh driver runs
    # recurrently flag `pricing_summary` as a phantom regression (r9:
    # 1.73× driver vs 1.26× idle rerun; the baseline protocol documents
    # the mode). One unbilled execution retires that cost before timing.
    queries[HEADLINE[0]](spark, sf_dir).count()


def measure_pass(spark, queries, sf_dir, *, quiet: bool = False):
    """One full pass: three runs per query, min/cold/all-three per name.

    Min-of-3 because the first run pays one-off janino codegen
    compilation (measured: 7s cold vs 1.2s warm for identical plans),
    which on a long-lived cluster amortizes to zero — steady-state is
    the comparable number — and the in-process min absorbs
    host-contention spikes that made single-shot driver runs flag
    phantom regressions two rounds running."""
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    runs3: dict[str, list[float]] = {}
    for name in HEADLINE:
        runs = []
        n = 0
        for _ in range(3):
            t0 = time.perf_counter()
            n = queries[name](spark, sf_dir).count()
            runs.append(time.perf_counter() - t0)
            # Honesty fix (r13, VERDICT r12 ask #3): release the query's
            # scoped persists and clear the cache manager OUTSIDE the
            # timed window, so reps 2-3 recompute from parquet instead of
            # riding rep 1's persisted intermediates. min-of-3 now
            # measures steady-state (codegen-warm, cache-COLD) runs; the
            # committed baseline was re-measured under the same protocol
            # (tools/rebaseline_bench.py) so the regression envelope
            # stays apples-to-apples.
            release_scoped_caches()
            spark.catalog.clearCache()
        cold[name] = round(runs[0], 3)
        timings[name] = round(min(runs), 3)
        runs3[name] = [round(r, 3) for r in runs]
        if not quiet:
            print(
                f"# {name}: {n} rows in {timings[name]:.2f}s "
                f"(cold {cold[name]:.2f}s)",
                file=sys.stderr,
            )
    return timings, cold, runs3


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = entry_mod.queries()
    check_registry_partition(queries)
    warm_up(spark, queries, sf_dir)
    timings, cold, runs3 = measure_pass(spark, queries, sf_dir)

    # regression check vs the committed baseline (BENCH_BASELINE.json):
    # per-query slowdowns beyond 1.5× AND 0.3s absolute are NAMED on stderr
    # so a regression can't hide inside an averaged total.
    regressions = {}
    base_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_BASELINE.json")
    if os.path.exists(base_path):
        with open(base_path) as f:
            base = json.load(f)
        if base.get("sf") == sf:
            for name, t in timings.items():
                b = base["queries"].get(name)
                if b is not None and t > b * 1.5 and t - b > 0.3:
                    regressions[name] = {"baseline": b, "now": t}
                    print(
                        f"# REGRESSION {name}: {b:.2f}s -> {t:.2f}s "
                        f"({t / b:.1f}x)",
                        file=sys.stderr,
                    )

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        # `queries` IS min-of-3 already; `runs3` holds all three
        # wall-clocks so a flagged slowdown can be checked against
        # in-run variance before it's treated as a plan regression
        # (driver flags in r2-r4 were all host contention, never
        # reproducible)
        "queries": timings,
        "runs3": runs3,
        "sf": sf,
        "cold_total_sec": round(sum(cold.values()), 3),
        "regressions_vs_baseline": regressions,
    }
    # The driver's BENCH_r{N}.json records only a 2000-char tail of this
    # process's output (`parsed: None` every round so far), losing the
    # per-query map. Persist the full result in-repo so cross-round
    # per-query comparisons survive without regexing truncated tails.
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    try:
        with open(full_path, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as e:  # read-only checkout must not fail the bench
        print(f"# BENCH_FULL.json not written: {e}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
