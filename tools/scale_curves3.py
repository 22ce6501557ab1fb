"""Three-point scaling curves sf0.1 → sf1 → sf10 (VERDICT r7 ask #1).

The sf1 curves in SCALE.md cannot distinguish linear from superlinear for
the fixed-stage operators: at ~6M lineitem rows several "linear-ok"
verdicts are really "scheduler latency dominates" (sub-1× ratios). A
100×-amplified sf10 directory (tools/make_scale_data.py 100) makes a
hidden superlinear term (accidentally quadratic join, growing broadcast)
visible: between sf1 and sf10 data grows 10×, so a linear operator's
RATIO2 (sf10/sf1) must approach ~10× once out of the latency floor, and
anything well beyond ~12× (or ~20× for sort-bound) is a plan bug.

Callables are the gates of __spark_entry__.queries() — the ones
bench.py times — with three scaled overrides defined below:
dedup_keep_best_quality with its production default collapse_exact=True,
the media decoders with a payload count that grows with the corpus, and
a constant-density geo_radius_pairs.

Env knobs: SCALE3_REPEATS (default 2), SCALE3_SF10_BUDGET seconds
(default 120 — if the sf1 run already exceeds it, the sf10 point is
skipped and the row says 'timeboxed', which is itself evidence).

Usage:
  python tools/make_scale_data.py 10  /tmp/sf1_synth
  python tools/make_scale_data.py 100 /tmp/sf10_synth
  python tools/scale_curves3.py [sf1_dir] [sf10_dir] [query ...]
Prints a markdown table to paste into SCALE.md.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REPEATS = int(os.environ.get("SCALE3_REPEATS", "2"))
SF10_BUDGET = float(os.environ.get("SCALE3_SF10_BUDGET", "120"))

# cheap/lineitem family first so partial output is still a table; the 15
# slowest committed-baseline headline queries + the fixed-latency family
# the sf1 table could not adjudicate (SCALE.md:933,937)
TARGETS = [
    "streaming_hourly_events",
    "dedup_lines_corpus",
    "hits_event_graph",
    "bpe_train_merges",
    "decontaminate_documents",
    "curation_pipeline_funnel",
    "incremental_minhash_documents",
    "dedup_keep_best_quality",
    "semantic_dedup_embeddings",
    "kcenter_coreset_embeddings",
    "label_noise_suspects",
    "nb_score_calibration",
    "pq_codebook_embeddings",
    "pq_adc_topk",
    "ivf_similarity_topk",
    "ivfpq_search_topk",
    # fixed-latency family
    "unigram_lm_vocab",
    "wordpiece_train_merges",
    "knn_graph_beam_search",
    "rank_agreement_quality_length",
    # r9 net-widening (VERDICT r8 ask #3): families with only sf1
    # evidence — streaming representatives, funnel/retention/survival,
    # graph beyond HITS — plus the split knn-graph BUILD (ask #1)
    "session_windows",
    "streaming_join_pairs",
    "streaming_upsert_latest",
    "cohort_retention_events",
    "funnel_view_purchase",
    "survival_users",
    "pagerank_event_graph",
    "triangle_count_graph",
    "cc_label_propagation",
    # the knn-graph BUILD and SEARCH are measured split, in production
    # configuration (corpus-scaled seed bits), by tools/knn_split_curves.py
    # r10 (VERDICT r9 ask #3): the last two families with no sf10 point.
    # Multimodal: payload count scaled with the corpus (n_media override
    # below for the limit-24 gates; frame_sample/multimodal_features are
    # corpus-proportional already). Drift/stats: registry callables as-is.
    "image_decode_stats",
    "audio_downsample_stats",
    "frame_sample_stats",
    "multimodal_features",
    "psi_order_drift",
    "ks_test_prices",
    "benford_orders",
    "chi_square_orders",
    "mannwhitney_quantity",
    "theil_sen_trend_events",
]


def assert_no_cached_frames(spark, qname):
    """Structural pin of the sweep's cache discipline (VERDICT r8 ask #7).

    The clearCache-between-queries rule was discovered the hard way
    (sf10 dedup signature caches evicted the next query's working set —
    ivf_similarity_topk 8s isolated vs 20+ min behind them). Enforce it
    instead of trusting it, in two layers:

    1. ``clearCache`` + assert the CacheManager really is empty (a
       future edit can't silently drop the clear).
    2. Force-unpersist any leftover persistent RDDs. These are OUTSIDE
       the CacheManager — localCheckpoint RDDs. Iterative trainers
       (bpe/unigram/graph) RETURN localCheckpointed frames by contract
       (caller owns release, same rule as build_ivf_index), so after
       the sweep's count() the sweeper IS the owner and releasing is
       the protocol, not an error. The count is reported on stderr —
       the first run of this assertion caught kmeans/pq/streaming
       checkpoints that NO caller could release (fixed at the source:
       driver-round-trip centroids, scoped per-batch checkpoints).
    """
    from assignment_etl_spark import internals

    spark.catalog.clearCache()
    if not internals.cache_manager_is_empty(spark):
        raise AssertionError(
            f"cacheManager not empty before {qname!r} — a prior query "
            "leaked a persisted frame past clearCache()"
        )
    rdds = internals.persistent_rdd_ids(spark)
    leftover = list(rdds)
    if leftover:
        print(
            f"# releasing {len(leftover)} checkpoint RDD(s) before "
            f"{qname!r} (caller-owned-release contract)",
            file=sys.stderr,
            flush=True,
        )
        for k in leftover:
            rdds[k].unpersist(False)
    n_rdds = len(internals.persistent_rdd_ids(spark))
    if n_rdds:
        raise AssertionError(
            f"{n_rdds} persistent RDD(s) still alive before {qname!r} "
            "after forced release — unpersist is being overridden in "
            "the leaking operator"
        )


def run(fn, spark, sf_dir, repeats=REPEATS):
    best, rows = None, 0
    for _ in range(repeats):
        t0 = time.perf_counter()
        rows = fn(spark, sf_dir).count()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return rows, best


def main() -> int:
    sf1_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1_synth"
    sf10_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf10_synth"
    names = sys.argv[3:] or TARGETS

    import __spark_entry__ as entry
    from assignment_etl_spark.session import get_spark

    spark = get_spark("scale-curves3")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    def _keep_best_production(spark, sf_dir):
        # the gate pins collapse_exact=False so the oracle replays the
        # uncollapsed clique graph; a corpus pipeline runs the default
        # collapse_exact=True
        from pyspark.sql import functions as F

        from assignment_etl_spark.ext.dedup import minhash_dedup_keep_best
        from assignment_etl_spark.ext.text import quality_score

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = minhash_dedup_keep_best(
            docs, quality_score(F.col("text")), jaccard_threshold=0.4, rounds=4
        )
        return (
            out.groupBy("keep")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("doc_id").alias("id_sum"),
                F.countDistinct("cluster").alias("n_clusters"),
            )
        )

    qs["dedup_keep_best_quality"] = _keep_best_production

    def _scaled_media(gate):
        # the gate pins 24 payloads for the oracle; the sweep scales the
        # payload count with the corpus (1 media row per 25 documents)
        # so the three-point ratio measures the codec dataflow, not a
        # fixed 24-row floor
        def fn(spark, sf_dir):
            n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
            return gate(spark, sf_dir, n_media=max(24, n_docs // 25))

        return fn

    qs["image_decode_stats"] = _scaled_media(entry.q_image_decode_stats)
    qs["audio_downsample_stats"] = _scaled_media(entry.q_audio_downsample_stats)

    def _geo_radius_production(spark, sf_dir):
        # constant-DENSITY spatial sweep variant (restored r11 — it was
        # deleted in the r10 end-of-round snapshot with its measurements
        # uncommitted): the gate's lattice formula maps every key into a
        # FIXED 10°×10° area (key*7 % 1000), so point density — and the
        # radius self-join's OUTPUT — grows linearly with the corpus and
        # the pair count quadratically (measured: r2 = 117× at sf10; any
        # plan is Θ(its own output), so that verdict grades the
        # workload's output cardinality, not the engine). Real spatial
        # corpora grow AREA at roughly fixed density; this variant keeps
        # the gate's geometry but scales the radius by 1/√factor so the
        # expected neighbors per point stay constant — the measurement
        # then tests the grid-join plan. The 3×3-neighborhood
        # exhaustiveness ratio (cell_deg ≳ radius_deg) is preserved.
        import math

        from pyspark.sql import functions as F

        from assignment_etl_spark.ext.geo import self_radius_pairs

        # COPRIME moduli (1000 / 1009), not the gate's (1000 / 1000):
        # with both coordinates reduced mod 1000, lat AND lon are
        # functions of key mod 1000, so every corpus collapses onto
        # ≤ 1000 distinct SITES — at sf10 that is ~1,500 co-located
        # points per site, and the distance-0 same-site pairs alone are
        # Θ(N²/1000) regardless of radius (measured r11: 53.8× r2 even
        # with the 1/√factor radius, after r10's 117× on the raw gate
        # geometry). Coprime moduli give ~10⁶ distinct sites (key mod
        # lcm), so site multiplicity stays O(1) as N grows and the
        # 1/√factor radius keeps expected neighbors per point constant
        # — the sweep then measures the grid-join plan, not the
        # workload's output cardinality.
        entry._prep(spark)
        customer = entry._t(spark, sf_dir, "customer")
        factor = max(1.0, customer.count() / 15_000)
        radius = 25.0 / math.sqrt(factor)
        cell = max(0.25 / math.sqrt(factor), 0.01)
        pts = customer.select(
            F.col("c_custkey").alias("id"),
            (((F.col("c_custkey") * 7) % 1000) / 100.0).alias("lat"),
            (((F.col("c_custkey") * 13) % 1009) / 100.9).alias("lon"),
        )
        pairs = self_radius_pairs(pts, radius_km=radius, cell_deg=cell)
        return pairs.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("id_a").alias("n_left"),
        )

    qs["geo_radius_pairs"] = _geo_radius_production

    print(
        "| query | sf0.1 s | sf1 s | sf10 s | r1 (sf1/sf0.1) "
        "| r2 (sf10/sf1) | rows 0.1→1→10 | verdict |"
    )
    print("|---|---|---|---|---|---|---|---|")
    for name in names:
        fn = qs[name]
        # drop the previous query's persisted frames: the dedup/LSH
        # family persists signature caches sized by the LAST sf dir
        # (sf10), and carrying them into the next query evicts its
        # working set mid-stage — measured: ivf_similarity_topk ran 8s
        # isolated but 20+ min after the sf10 dedup queries' caches
        assert_no_cached_frames(spark, name)
        try:
            r01, t01 = run(fn, spark, "/root/testdata/sf0.1")
            print(f"# {name} sf0.1 {t01:.2f}s", file=sys.stderr, flush=True)
            r1, t1 = run(fn, spark, sf1_dir)
            print(f"# {name} sf1   {t1:.2f}s", file=sys.stderr, flush=True)
            if t1 > SF10_BUDGET:
                print(
                    f"| `{name}` | {t01:.2f} | {t1:.2f} | — | "
                    f"{t1 / t01 if t01 else float('inf'):.1f}× | — "
                    f"| {r01}→{r1}→— | timeboxed (sf1 > {SF10_BUDGET:.0f}s) |",
                    flush=True,
                )
                continue
            r10, t10 = run(fn, spark, sf10_dir)
            print(f"# {name} sf10  {t10:.2f}s", file=sys.stderr, flush=True)
        except Exception as exc:  # noqa: BLE001 — report and keep sweeping
            print(f"| `{name}` | ERROR: {type(exc).__name__}: {str(exc)[:80]} |")
            continue
        ratio1 = t1 / t01 if t01 else float("inf")
        ratio2 = t10 / t1 if t1 else float("inf")
        verdict = (
            "linear-ok"
            if ratio2 <= 12
            else ("watch" if ratio2 <= 20 else "SUPER-LINEAR")
        )
        print(
            f"| `{name}` | {t01:.2f} | {t1:.2f} | {t10:.2f} | {ratio1:.1f}× "
            f"| {ratio2:.1f}× | {r01}→{r1}→{r10} | {verdict} |",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
