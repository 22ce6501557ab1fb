"""Incremental near-dup dedup against a persisted LSH band index
(ext/dedup.py build_band_store + incremental_minhash_dedup — VERDICT r7
ask #2): drop semantics, store-only operation (no history text), the
per-batch-cost contract (history is consulted ONLY through the band
index, via an equi-join), and consistency with the full-corpus
minhash_dedup when history ids precede batch ids."""

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")
from assignment_etl_spark import internals  # noqa: E402
from assignment_etl_spark.ext.dedup import (  # noqa: E402
    build_band_store,
    incremental_minhash_dedup,
    minhash_dedup,
)

BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep woods tonight"
)
OTHER = (
    "completely different content about spark dataframes and catalyst "
    "optimizer internals for the join reorder rule"
)
THIRD = (
    "yet another unrelated historical document describing parquet column "
    "pruning and row group statistics"
)


@pytest.fixture(scope="module")
def corpus(spark):
    hist = spark.createDataFrame(
        [(0, BASE), (2, OTHER), (4, THIRD)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (11, BASE + " extra"),  # near-dup of history 0
            (13, "fresh new content that matches nothing else in the corpus at all today"),
            (15, "fresh new content that matches nothing else in the corpus at all tonight"),  # near-dup of 13
            (17, BASE + " extra"),  # dup of batch 11 (stage 1 wins over store)
        ],
        "doc_id long, text string",
    )
    return hist, batch


def test_drop_semantics_and_delta(spark, corpus):
    hist, batch = corpus
    store = build_band_store(hist)
    surv, delta, dropped = incremental_minhash_dedup(
        batch, store, history_texts=hist, jaccard_threshold=0.4
    )
    got = {r.doc_id: (r.reason, r.keeper) for r in dropped.collect()}
    assert got == {
        11: ("dup_history", 0),
        15: ("dup_batch", 13),
        17: ("dup_batch", 11),  # batch-internal dup NEVER consults the store
    }
    assert [r.doc_id for r in surv.orderBy("doc_id").collect()] == [13]
    # delta = bands rows per survivor, keeper_id = the survivor
    rows = delta.groupBy("keeper_id").count().collect()
    assert {(r.keeper_id, r["count"]) for r in rows} == {(13, 8)}


def test_store_only_no_history_text(spark, corpus):
    """verify=False needs NO corpus access at all — the band index alone
    decides (documented LSH-precision caveat); per-batch cost is then
    trivially bounded by batch + matched store rows."""
    hist, batch = corpus
    store = build_band_store(hist)
    surv, _delta, dropped = incremental_minhash_dedup(
        batch, store, jaccard_threshold=0.4, verify=False
    )
    got = {r.doc_id: r.reason for r in dropped.collect()}
    assert got[11] == "dup_history" and got[15] == "dup_batch"
    assert surv.count() == 1


def test_verify_without_history_texts_raises(spark, corpus):
    hist, batch = corpus
    store = build_band_store(hist)
    with pytest.raises(ValueError, match="history_texts"):
        incremental_minhash_dedup(batch, store, verify=True)


def test_no_store_is_within_batch_only(spark, corpus):
    _hist, batch = corpus
    surv, _delta, dropped = incremental_minhash_dedup(
        batch, None, history_texts=None, jaccard_threshold=0.4,
        verify=False,
    )
    assert {r.doc_id for r in dropped.collect()} == {15, 17}
    assert surv.count() == 2  # 11 survives: no store to catch it


def test_per_batch_cost_store_equijoined_once(spark, corpus, tmp_path):
    """The per-batch-cost contract: history appears ONLY as the persisted
    band index, consumed by ONE equi-join on (band, bhash) — the plan
    scans the store parquet exactly once, reads only its three columns,
    and contains no cartesian product and no LSH recomputation over
    history (history text never enters the dataflow)."""
    hist, batch = corpus
    p = str(tmp_path / "band_store.parquet")
    build_band_store(hist).write.parquet(p)
    store = spark.read.parquet(p)
    spark.conf.set("spark.sql.debug.maxToStringFields", "2000")
    _surv, _delta, dropped = incremental_minhash_dedup(
        batch, store, jaccard_threshold=0.4, verify=False,
        eager=False,  # keep the full dataflow visible in the plan
    )
    plan = dropped._sc._jvm.PythonSQLUtils.explainString(
        internals.query_execution(dropped), "formatted"
    )
    locs = [
        ln for ln in plan.splitlines()
        if "Location" in ln and "band_store.parquet" in ln
    ]
    assert len(locs) == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # the store scan is pruned to its own 3 columns — no text, no re-LSH
    import re

    scan = re.search(
        r"Location:[^\n]*band_store[^\n]*\n(?:[^\n]*\n){0,4}?ReadSchema: (\S+)",
        plan,
    )
    assert scan is not None, plan
    cols = set(re.findall(r"(\w+):", scan.group(1)))
    assert cols and cols <= {"band", "bhash", "keeper_id"}, plan


def test_compaction_preserves_lookup_results(spark, corpus, tmp_path):
    """compact_band_store is content-neutral: the same batch dedup'd
    against the store BEFORE and AFTER compaction (no tombstones) drops
    the same docs with the same keepers, and the compacted dir holds
    fewer files than the blind-append accumulation."""
    import glob

    from assignment_etl_spark.ext.dedup import compact_band_store

    hist, batch = corpus
    p = str(tmp_path / "band_store")
    # blind-append the store in two halves to accumulate small files
    build_band_store(hist.filter("doc_id <= 2")).write.parquet(p)
    build_band_store(hist.filter("doc_id > 2")).write.mode(
        "append"
    ).parquet(p)
    n_before = len(glob.glob(f"{p}/**/*.parquet", recursive=True))

    def lookup():
        _s, _d, dropped = incremental_minhash_dedup(
            batch, spark.read.parquet(p), history_texts=hist,
            jaccard_threshold=0.4,
        )
        return sorted((r.doc_id, r.reason, r.keeper) for r in dropped.collect())

    before = lookup()
    assert compact_band_store(spark, p) >= 1
    n_after = len(glob.glob(f"{p}/**/*.parquet", recursive=True))
    assert n_after < n_before
    assert lookup() == before


def test_tombstoned_keeper_stops_matching(spark, corpus, tmp_path):
    """A keeper deleted from the corpus must stop matching: after
    tombstoning doc 0 (the BASE keeper) — via the lookup-time anti-join
    AND via the compaction rewrite — batch doc 11 (a near-dup of 0) is
    no longer dropped as dup_history."""
    from assignment_etl_spark.ext.dedup import (
        compact_band_store,
        tombstone_band_store,
    )

    hist, batch = corpus
    p = str(tmp_path / "band_store")
    build_band_store(hist).write.parquet(p)
    tomb = spark.createDataFrame([(0,)], "keeper_id long")

    def dropped_with(store):
        _s, delta, dropped = incremental_minhash_dedup(
            batch, store, history_texts=hist, jaccard_threshold=0.4,
        )
        got = {r.doc_id: r.reason for r in dropped.collect()}
        # the documented caller contract: release the returned persisted
        # frames once consumed (their plans embed the store scan — left
        # cached, they'd shadow the post-compaction rewrite)
        delta.unpersist()
        dropped.unpersist()
        return got

    assert dropped_with(spark.read.parquet(p)).get(11) == "dup_history"
    # lookup-time tombstone: same store files, filtered view
    live = tombstone_band_store(spark.read.parquet(p), tomb)
    assert 11 not in dropped_with(live)
    # durable tombstone: compaction folds the delete into the rewrite
    compact_band_store(spark, p, deleted_keys=tomb)
    assert 11 not in dropped_with(spark.read.parquet(p))
    assert (
        spark.read.parquet(p).filter("keeper_id = 0").count() == 0
    )


def test_consistent_with_full_corpus_dedup(spark, sf_dir):
    """When history ids precede batch ids (and history is internally
    deduped), incremental dedup against the history's band index drops
    exactly the batch docs that a full-corpus minhash_dedup over
    history ∪ batch would drop — a semantic GUARANTEE since round 9:
    stage 2 applies the same est-Jaccard signature cut as stage 1 and
    the full run, so the drop predicate (band collision ∧ est ≥ t ∧
    exact ≥ t) is identical in both paths."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull())
    )
    hist = docs.filter(F.col("doc_id") < 250)
    batch = docs.filter(F.col("doc_id") >= 250)
    store = build_band_store(hist)
    surv, _delta, _dropped = incremental_minhash_dedup(
        batch, store, history_texts=hist, jaccard_threshold=0.4
    )
    full = minhash_dedup(docs, jaccard_threshold=0.4)
    expected = {r.doc_id for r in full.collect() if r.doc_id >= 250}
    assert {r.doc_id for r in surv.collect()} == expected


def test_compaction_sizing_tracks_erasure(spark, tmp_path):
    """VERDICT r9 ask #7: compacting after a large erasure sizes the
    rewrite from the LIVE frame, so the file count shrinks roughly with
    the surviving fraction — not the pre-tombstone byte total (which
    over-partitioned: a 90% delete kept the full file budget)."""
    import glob

    from assignment_etl_spark.ext.dedup import compact_band_store

    docs = spark.createDataFrame(
        [(i, f"document number {i} with some repeated filler text " * 3)
         for i in range(200)],
        "doc_id long, text string",
    )
    p = str(tmp_path / "band_store")
    build_band_store(docs).write.parquet(p)

    def disk_bytes():
        return sum(
            __import__("os").path.getsize(f)
            for f in glob.glob(f"{p}/**/*.parquet", recursive=True)
        )

    # target sized so the full store wants ~8 files
    target = max(1, disk_bytes() // 8)
    tomb = spark.createDataFrame(
        [(i,) for i in range(200) if i >= 20], "keeper_id long"
    )  # erase 90%
    n = compact_band_store(spark, p, deleted_keys=tomb, target_file_bytes=target)
    # live fraction is 10% -> expected ceil(0.1 * 8) = 1 file; the old
    # pre-tombstone sizing would have produced ~8
    assert n <= 2, n
    store = spark.read.parquet(p)
    assert store.count() > 0
    assert store.filter("keeper_id >= 20").count() == 0


def _short_signatures(spark, ids, length):
    """("_id", "_sig") rows whose signatures have ``length`` values — what
    a frame signed with another ``num_hashes`` looks like."""
    return spark.createDataFrame(
        [(i, list(range(length))) for i in ids], "_id long, _sig array<long>"
    )


def test_build_band_store_rejects_signature_length_mismatch(spark, corpus):
    hist, _ = corpus
    bad = _short_signatures(spark, [0, 2, 4], 16)
    with pytest.raises(Exception, match="signature of length 16.*num_hashes=32"):
        build_band_store(hist, signatures=bad).collect()


def test_incremental_dedup_rejects_signature_length_mismatch(spark, corpus):
    hist, batch = corpus
    store = build_band_store(hist)
    bad = _short_signatures(spark, [11, 13, 15, 17], 16)
    with pytest.raises(Exception, match="signature of length 16.*num_hashes=32"):
        incremental_minhash_dedup(
            batch, store, history_texts=hist, jaccard_threshold=0.4,
            batch_signatures=bad,
        )[2].collect()
