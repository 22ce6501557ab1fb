"""Deduplication family for LLM training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket-join),
SimHash (hamming buckets), n-gram Jaccard verification, and embedding
near-dup within semantic clusters (SemDeDup). The generalization of the
reference's exact/fuzzy dedup (SURVEY §2.7) to web-corpus scale.

Scale shape: every variant reduces to *bucket then compare within bucket* —
the only joins are equi-joins on bucket keys (shuffle on a well-distributed
hash), never a cross product. Pair verification (Jaccard) touches only
candidate pairs emitted by banding.
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from assignment_etl_spark.ext.text import fingerprint

# Mersenne prime + LCG-style universal hashing for minhash permutations.
MERSENNE = (1 << 61) - 1

# Portable-hash prime (2^31 - 1): with all operands < 2^31 every product in
# the minhash family stays inside int64, so ANY engine with 64-bit integer
# arithmetic (Spark, DuckDB, Trino, ...) computes bit-identical signatures
# and band keys — the one family every LSH pipeline runs, which is why the
# DuckDB oracle can replay (and hash-verify) them in a second engine.
from assignment_etl_spark.portable import PRIME_P as PORTABLE_P  # noqa: E402
PORTABLE_BAND_MULT = 1000003


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on normalized-text fingerprint; deterministic keep-first
    by id. One shuffle on a 64-bit key (never on the text itself)."""
    w = Window.partitionBy("_fp").orderBy(id_col)
    return (
        df.withColumn("_fp", fingerprint(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )


def incremental_dedup(
    batch: DataFrame,
    seen_fps: DataFrame | None,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW ingest batch against an already-deduped corpus without
    ever touching the corpus text: the store keeps only 64-bit fingerprints
    (``seen_fps``, one ``fp`` long column — 8 bytes/doc, so the store for a
    100 TB corpus is ~tens of GB and joinable as a normal shuffled
    anti-join, or broadcast when the corpus is small).

    Two stages, each one shuffle on the fingerprint:
      1. within-batch keep-first by id (same contract as ``exact_dedup``);
      2. left-anti against the store's fingerprints.

    Returns ``(survivors, fps_delta)`` — append ``fps_delta`` to the store
    to make the next batch incremental. This is the steady-state ingest
    pattern: per-batch cost scales with the batch, not the corpus.
    """
    w = Window.partitionBy("_fp").orderBy(id_col)
    first = (
        batch.withColumn("_fp", fingerprint(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if seen_fps is not None:
        first = first.join(
            seen_fps.select(F.col("fp").alias("_fp")).distinct(), "_fp", "left_anti"
        )
    return first.drop("_fp"), first.select(F.col("_fp").alias("fp"))


def shingles(col: Column, n: int = 5) -> Column:
    """Character n-gram shingle hashes over normalized text (distinct).
    NULL text ⇒ NULL grams: greatest(NULL, 1) would silently yield 1 and
    xxhash64(substring(NULL)) its seed — giving every NULL-text doc the
    identical shingle set {42} and exact Jaccard 1.0 against every other
    NULL-text doc (r9 ADVICE regression). length(s)*0+1 keeps the short-
    string floor while propagating NULL."""
    s = F.lower(F.regexp_replace(col, r"\s+", " "))
    idx = F.sequence(
        F.lit(1), F.greatest(F.length(s) - (n - 1), F.length(s) * 0 + 1)
    )
    grams = F.transform(idx, lambda i: F.xxhash64(F.substring(s, i, n)))
    return F.array_distinct(grams)


@functools.lru_cache(maxsize=None)
def make_gram_set_udf(n: int = 5):
    """Arrow-batched distinct character-n-gram hash sets — the
    exact-verify hot path. Normalized text (lower + whitespace collapse,
    exactly :func:`shingles`' normalization) → uint32 codepoints →
    rolling polynomial hash per n-window → unique. CHARACTER windows
    (not bytes), so gram-set Jaccard matches a substr()-based oracle on
    any Unicode text; hashing only relabels grams, which leaves Jaccard
    unchanged (injective modulo ~2^-64 collisions). Replaces the
    Column-expression path in pair verification: per-position
    substring() seeks from the string start each call — O(len²) per row
    in interpreted mode (measured: the sf0.1 ingest gate's history
    verify stage dropped 12s → ~2s). Strings shorter than n hash as one
    truncated window (mirroring substr()'s unpadded tail behavior);
    NULL text ⇒ NULL grams (NULL-text docs never verify as pairs)."""
    powers = np.uint64(1099511628211) ** np.arange(n, dtype=np.uint64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def gram_set(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            norm = " ".join(str(t).lower().split())
            cps = np.frombuffer(norm.encode("utf-32-le"), dtype=np.uint32)
            with np.errstate(over="ignore"):
                if cps.size < n:
                    if cps.size == 0:
                        cps = np.array([32], dtype=np.uint32)
                    h = np.array(
                        [(cps.astype(np.uint64) * powers[: cps.size]).sum()],
                        dtype=np.uint64,
                    )
                else:
                    w = np.lib.stride_tricks.sliding_window_view(cps, n)
                    h = np.unique((w.astype(np.uint64) * powers).sum(axis=1))
            out.append(h.view(np.int64).tolist())
        return pd.Series(out)

    return gram_set


def portable_perm_params(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """The minhash permutations' (a, b) pairs: a deterministic LCG stream
    (reproducible across runs and engines) reduced below PORTABLE_P so
    a*h + b never leaves int64."""
    params, state = [], seed
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (MERSENNE - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE
        params.append((a % (PORTABLE_P - 1) + 1, b % PORTABLE_P))
    return params


@functools.lru_cache(maxsize=None)
def _minhash_udf(num_hashes: int, shingle_n: int, seed: int):
    """Arrow-batched numpy minhash over NORMALIZED, padded text: per row,
    codepoints (UTF-32, so astral characters stay whole) → each sliding
    n-window hashed as Σ cp·31^(n-1-j) mod PORTABLE_P (the 31-ary
    polynomial; the powers are pre-reduced, so each product stays below
    2^52) → the min of (a·h + b) mod PORTABLE_P per permutation (each
    product below 2^62). Duplicate grams cannot move a min, so they are
    not deduplicated first.
    NULL text ⇒ NULL signature: NULL sigs have NULL band keys, so
    NULL-text docs never collide with anything."""
    ab = np.array(portable_perm_params(num_hashes, seed), dtype=np.int64)
    a, b = ab[:, :1], ab[:, 1:]  # (num_hashes, 1) columns
    powers = np.array(
        [pow(31, shingle_n - 1 - j, PORTABLE_P) for j in range(shingle_n)],
        dtype=np.int64,
    )

    @pandas_udf(T.ArrayType(T.LongType()))
    def minhash_sig(texts: pd.Series) -> pd.Series:
        out = []
        for s in texts:
            if s is None:
                out.append(None)
                continue
            cps = np.frombuffer(s.encode("utf-32-le"), np.uint32).astype(np.int64)
            windows = np.lib.stride_tricks.sliding_window_view(cps, shingle_n)
            h = windows @ powers % PORTABLE_P
            out.append(((a * h + b) % PORTABLE_P).min(axis=1).tolist())
        return pd.Series(out)

    return minhash_sig


def minhash_signature(
    col: Column, num_hashes: int = 32, shingle_n: int = 5, seed: int = 7
) -> Column:
    """Minhash signature of a text column — the one hash family every LSH
    pipeline runs and the DuckDB oracle replays bit for bit. The JVM
    normalizes (lowercase, ``\\s+`` → one space, right-pad to
    ``shingle_n``: Java regex and case semantics, exactly what the SQL
    replica runs); :func:`_minhash_udf` hashes the normalized string."""
    s = F.lower(F.regexp_replace(col, r"\s+", " "))
    s = F.when(F.length(s) < shingle_n, F.rpad(s, shingle_n, " ")).otherwise(s)
    return _minhash_udf(num_hashes, shingle_n, seed)(s)


def portable_band_hash(sig_col: Column, start: int, rows: int) -> Column:
    """Polynomial fold of sig[start .. start+rows-1] (1-based) mod
    PORTABLE_P — the cross-engine band key (xxhash64-free)."""
    acc = F.lit(0).cast("long")
    for r in range(rows):
        acc = (acc * PORTABLE_BAND_MULT + F.element_at(sig_col, start + r)) % PORTABLE_P
    return acc


def _sig_frame(
    df: DataFrame,
    *,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_n: int,
    seed: int,
    fan_out: bool = True,
) -> DataFrame:
    """Persisted ("_id", "_sig") minhash signatures — the shared first
    stage of minhash_lsh_pairs / build_band_store /
    incremental_minhash_dedup. Persisting matters: without it both sides
    of the downstream band self-join would re-run the Arrow UDF over the
    text. At cluster scale this is where you'd checkpoint signatures to
    the store instead."""
    # The signature projection is CPU-bound per row (the Arrow UDF); when
    # the source has fewer partitions than cores (a single-file local
    # parquet, a small filtered split), fan out first — one round-robin
    # exchange of the batch text, skipped whenever the input is already
    # parallel (any real cluster layout, where the guard sees thousands
    # of input splits).
    # ``fan_out=False`` skips the guard: the .rdd partition probe
    # finalizes the physical plan, which under AQE EXECUTES the upstream
    # query stages — paid per call, and pointless when the input is a
    # join/shuffle output already at shuffle parallelism (e.g. the
    # verified-keeper fetch in incremental_minhash_dedup).
    if fan_out:
        target = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
    from assignment_etl_spark.caching import scoped_persist

    return scoped_persist(
        df.select(
            F.col(id_col).alias("_id"),
            minhash_signature(F.col(text_col), num_hashes, shingle_n, seed).alias("_sig"),
        )
    )


def _checked_signatures(sig: DataFrame, num_hashes: int, arg: str) -> DataFrame:
    """A caller-passed ("_id", "_sig") frame, failing loudly when a row's
    signature length is not ``num_hashes``: signatures made with other
    minhash parameters would band and estimate Jaccard silently wrong.
    A NULL signature (NULL text) passes: it bands to NULL keys and never
    pairs. The check is a per-row size test in the plan, so it raises
    when the result is computed and costs no extra job."""
    size = F.size("_sig")
    return sig.withColumn(
        "_sig",
        F.when(
            F.col("_sig").isNull() | (size == num_hashes), F.col("_sig")
        ).otherwise(
            F.raise_error(
                F.format_string(
                    f"{arg}: signature of length %d for _id %s, expected "
                    f"num_hashes={num_hashes}",
                    size,
                    F.col("_id").cast("string"),
                )
            )
        ),
    )


def _with_bands(sig: DataFrame, *, num_hashes: int, bands: int) -> DataFrame:
    """Explode a signature frame into ("_id", "_sig", "_band", "_bhash") —
    one row per (doc, band): the LSH bucket keys every candidate join
    (self-join OR persisted-store lookup) equi-joins on."""
    rows = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                portable_band_hash(F.col("_sig"), i * rows + 1, rows).alias("bhash"),
            )
            for i in range(bands)
        ]
    )
    return sig.select(
        "_id", "_sig", F.explode(band_structs).alias("_b")
    ).select("_id", "_sig", F.col("_b.band").alias("_band"), F.col("_b.bhash").alias("_bhash"))


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    jaccard_threshold: float = 0.5,
    seed: int = 7,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash banding, verified with estimated
    Jaccard (signature agreement rate).

    shingle → minhash(num_hashes) → split into bands → explode(band hash) →
    self-equi-join on (band_idx, band_hash) → verify. Returns
    (id_a, id_b, est_jaccard) with id_a < id_b.

    Signatures and band keys are the PORTABLE_P polynomial family
    (:func:`minhash_signature`, :func:`portable_band_hash`), so the DuckDB
    oracle reproduces the exact pairs.
    """
    sig = _sig_frame(
        df,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        shingle_n=shingle_n,
        seed=seed,
    )
    banded = _with_bands(sig, num_hashes=num_hashes, bands=bands)

    # Deliberately dedup-then-est (r13 tried-and-reverted the map-side
    # est cut): the band self-join emits many duplicate collisions per
    # pair on template-heavy corpora (~9.5x at sf10), so per-collision
    # est evaluation cost more than shuffling the signature payload
    # through the dedup saved — see incremental_minhash_dedup stage 1.
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bhash") == F.col("b._bhash"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._sig").alias("_sa"),
            F.col("b._sig").alias("_sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("_sa"), F.col("_sb"), lambda x, y: x == y),
                lambda v: v,
            )
        )
        / F.lit(float(num_hashes))
    )
    return (
        pairs.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def cluster_pairs(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a candidate-pair edge list by min-label
    propagation: each node's label converges to the smallest id reachable
    from it. Returns (node, cluster) — cluster = min id of the component.

    Iterative joins, O(diameter) rounds — near-dup graphs are
    shallow (dup clusters are cliques-ish), so this converges in 2-3
    rounds in practice. Each round is one shuffle on node id; frames are
    persisted per round and the loop stops when no label changes (checked
    with a cheap aggregate, not a collect of the data).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("cluster", F.col("node"))
        .persist()
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("cluster").alias("n_cluster"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("cluster"), F.coalesce(F.col("n_cluster"), F.col("cluster"))
                ).alias("cluster"),
            )
            .persist()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="node")
            .filter(F.col("n.cluster") != F.col("o.cluster"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels


def _verify_edges(
    pairs: DataFrame,
    left_texts: DataFrame,
    right_texts: DataFrame,
    *,
    left_key: str,
    right_key: str,
    text_col: str,
    id_col: str,
    shingle_n: int,
    threshold: float,
) -> DataFrame:
    """Exact n-gram Jaccard over an edge list, gram arrays computed ONCE
    per participating doc: semi-join each text side down to the ids that
    actually appear in edges, gram-hash those once (Arrow batch —
    :func:`make_gram_set_udf`; the expression path's per-position
    substring is O(len²)/row interpreted), then join the (small) gram
    frames onto the edges. A doc in k edges would otherwise shingle
    k times — measured 23s → 4s at sf0.1 on 2.9k edges over 2.5k docs.
    Keeps every pre-existing edge column and adds ``jaccard``.

    r13 tried-and-reverted: sharing ONE persisted gram frame across
    both sides of the self-join case (verify_pairs_exact) measured
    WORSE at sf10 (54s -> 66s for the incremental gate) — the
    union-distinct id shuffle plus the cache-write serialize the two
    gram passes, which otherwise run as independent parallel subtrees
    of the same job. Two passes of a vectorized Arrow UDF beat one
    pass forced through a persist barrier here."""
    gram = make_gram_set_udf(shingle_n)
    ga = (
        left_texts.join(
            pairs.select(F.col(left_key).alias(id_col)).distinct(),
            on=id_col,
            how="left_semi",
        )
        .select(
            F.col(id_col).alias(left_key),
            gram(F.col(text_col)).alias("_ga"),
        )
    )
    gb = (
        right_texts.join(
            pairs.select(F.col(right_key).alias(id_col)).distinct(),
            on=id_col,
            how="left_semi",
        )
        .select(
            F.col(id_col).alias(right_key),
            gram(F.col(text_col)).alias("_gb"),
        )
    )
    inter = F.size(F.array_intersect(F.col("_ga"), F.col("_gb"))).cast("double")
    union = (
        F.size(F.col("_ga")) + F.size(F.col("_gb"))
    ).cast("double") - inter
    return (
        pairs.join(ga, on=left_key)
        .join(gb, on=right_key)
        .withColumn(
            "jaccard", F.when(union > 0, inter / union).otherwise(F.lit(0.0))
        )
        .filter(F.col("jaccard") >= threshold)
        .drop("_ga", "_gb")
    )


def verify_pairs_exact(
    pairs: DataFrame,
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard verification of candidate pairs: keep pairs
    at/above the TRUE Jaccard threshold. Pair-local — the joins shuffle
    only the edges plus the gram arrays of docs that appear in them
    (computed once per doc, not once per pair), never the corpus against
    itself; this is the second stage that turns banding's S-curve
    (precision ~0.6 at the band knee) into an exact cut."""
    return _verify_edges(
        pairs,
        df,
        df,
        left_key="id_a",
        right_key="id_b",
        text_col=text_col,
        id_col=id_col,
        shingle_n=shingle_n,
        threshold=threshold,
    )


def build_band_store(
    corpus: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    seed: int = 7,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """The persisted LSH band index of an (already near-dup-deduped)
    corpus: ``(band, bhash, keeper_id)`` — ``bands`` rows per document,
    ~16 bytes of key material + one id each, so the index for a 100 TB
    corpus is ~bands × docs × 24 B (≈ a few hundred GB at 10B docs:
    three orders of magnitude smaller than the corpus, and the ONLY
    state a steady-state ingest pipeline keeps).

    100 TB layout: write partitioned by ``band`` and bucketed by
    ``bhash`` so a batch lookup prunes to matching buckets without
    reshuffling history; appending a batch's delta
    (from incremental_minhash_dedup) is a blind append — no
    read-modify-write, no re-running LSH over history. Conceptual
    parity: the near-dup lift of incremental_dedup's fingerprint store
    (VERDICT r7 ask #2).

    ``signatures``: an already-computed ("_id", "_sig") frame for
    ``corpus`` (a prior :func:`_sig_frame` output, or signatures carried
    in the corpus store). When given, the minhash pass — the expensive
    Arrow-UDF scan of every history text — is skipped entirely; the
    caller owns that frame's cache lifecycle. Signatures are a pure
    deterministic function of the text, so the resulting index is
    byte-identical either way."""
    sig = (
        _checked_signatures(signatures, num_hashes, "signatures")
        if signatures is not None
        else _sig_frame(
            corpus,
            text_col=text_col,
            id_col=id_col,
            num_hashes=num_hashes,
            shingle_n=shingle_n,
            seed=seed,
        )
    )
    banded = _with_bands(sig, num_hashes=num_hashes, bands=bands)
    return banded.select(
        F.col("_band").alias("band"),
        F.col("_bhash").alias("bhash"),
        F.col("_id").alias("keeper_id"),
    )


def tombstone_band_store(
    band_store: DataFrame, deleted_keys: DataFrame, *, key_col: str = "keeper_id"
) -> DataFrame:
    """Filter a band index down to LIVE keepers: one anti-join on
    keeper_id against the deleted-document key set (the band-store
    companion of io/store.delete_by_keys). A document erased from the
    corpus must stop matching new batches immediately — without this, a
    deleted keeper's bands keep dropping incoming near-dups of a
    document that no longer exists.

    This is the LOOKUP-TIME contract (cheap: the tombstone set
    broadcast-joins the store scan); the store files themselves are
    rewritten lazily by :func:`compact_band_store`, which folds the
    tombstones in — the 100 TB pattern, since rewriting a ~TB index per
    delete request is the anti-pattern delete_by_keys exists to avoid."""
    return band_store.join(
        deleted_keys.select(F.col(key_col).alias("keeper_id")).distinct(),
        on="keeper_id",
        how="left_anti",
    ).select("band", "bhash", "keeper_id")


def compact_band_store(
    spark,
    path: str,
    *,
    deleted_keys: DataFrame | None = None,
    key_col: str = "keeper_id",
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Maintenance pass for the blind-append band index at ``path``:
    fold in keeper tombstones (if given) and rewrite the accumulated
    per-batch delta files into few files CLUSTERED by (band, bhash) —
    rides io/store.compact_parquet's atomic temp-sibling swap, so a
    crash at any step leaves either the old or the new index intact.
    Returns the new file count.

    Why both jobs in one rewrite: every incremental_minhash_dedup batch
    blind-appends a small band_delta (the contract that keeps ingest
    read-free), so after many batches the store is thousands of small
    files with interleaved band ranges — per-file open costs and dead
    min/max skipping on exactly the (band, bhash) equi-join the lookup
    prunes on. Compaction restores the clustering; folding tombstones
    here makes the periodic rewrite also the erasure pass. Lookup
    results are identical before/after (modulo tombstoned keepers) —
    gate ``band_store_lifecycle`` hash-certifies the surviving index."""
    from assignment_etl_spark.io.store import (
        atomic_overwrite_parquet,
        compact_parquet,
    )

    if deleted_keys is None:
        return compact_parquet(
            spark, path, target_file_bytes=target_file_bytes,
            sort_by=["band", "bhash"],
        )
    import glob
    import os

    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    if not files:
        return 0
    total = sum(os.path.getsize(f) for f in files)
    store = spark.read.parquet(path)
    # size the rewrite from the LIVE (post-tombstone) frame, not the
    # pre-tombstone byte total (VERDICT r9 ask #7): after a large erasure
    # the old sizing over-partitioned the rewritten index — a 90% delete
    # would still fan the 10% survivors across the full file budget. The
    # live byte estimate is on-disk bytes × surviving row fraction (rows
    # here are fixed-width (band, bhash, keeper_id), so row fraction
    # tracks byte fraction); the survivors are persisted so the sizing
    # count and the rewrite share one anti-join evaluation.
    live = tombstone_band_store(store, deleted_keys, key_col=key_col).persist()
    try:
        live_rows = live.count()
        total_rows = store.count()
        live_bytes = total if total_rows == 0 else total * (live_rows / total_rows)
        n = max(1, -(-int(live_bytes) // target_file_bytes))
        atomic_overwrite_parquet(
            live.repartitionByRange(n, "band", "bhash")
            .sortWithinPartitions("band", "bhash"),
            path,
        )
    finally:
        live.unpersist()
    return n


def incremental_minhash_dedup(
    batch: DataFrame,
    band_store: DataFrame | None,
    *,
    history_texts: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    jaccard_threshold: float = 0.5,
    verify: bool = True,
    seed: int = 7,
    eager: bool = True,
    batch_signatures: DataFrame | None = None,
    history_signatures: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Near-dup-check a NEW ingest batch against the whole corpus history
    WITHOUT re-running LSH over the history — the steady-state 100 TB
    ingest operator (VERDICT r7 ask #2). History is consulted only
    through ``band_store`` (``build_band_store`` rows / prior deltas):
    the batch's band rows equi-join the store on (band, bhash), so
    per-batch cost scales with the batch (plus, on a bucketed store
    layout, only the matching store buckets), never with the corpus.

    Stages (each an equi-join on bounded keys, mirroring
    ``incremental_dedup``'s batch-then-store contract):
      1. within-batch near-dup dedup — LSH self-join + est-Jaccard cut +
         (``verify``) exact n-gram Jaccard; greedy drop of the larger id
         per verified edge (``minhash_dedup`` semantics). Batch-internal
         dups never consult the store.
      2. store lookup — surviving batch band rows equi-join the store;
         with ``verify`` each candidate (batch_id, keeper_id) is
         re-checked with exact n-gram Jaccard against the keeper's text,
         fetched by id from ``history_texts`` (candidate-bounded join —
         history text is never scanned wholesale), and the surviving
         verified edges then pass the SAME est-Jaccard signature cut
         stage 1 applies (keeper signatures recomputed from the
         verified-edge keeper-text fetch — the store itself stays 3
         columns; the conjunction is order-free, and running est last
         keeps its cost bounded by the batch's dup count). This makes
         the drop predicate IDENTICAL to the full-corpus
         :func:`minhash_dedup` (band collision ∧ est ≥ t ∧ exact ≥ t),
         so incremental-vs-full equivalence is a guarantee, not
         data-dependent. ``verify=False`` treats any shared band as a
         dup (documented LSH-precision caveat: ~0.6 precision at the
         banding knee; no est cut either — signatures for keepers
         aren't available without text).

    Cache lifecycle (``eager``, default True — the steady-state ingest
    contract): materialize ``band_delta`` and ``dropped`` NOW, then
    release every internal cache (signatures, drop lists, keeper
    signatures) so per-batch ingest does not accumulate executor storage
    across batches. The caller should unpersist the two returned
    persisted frames after appending the delta / sinking the audit rows.
    ``eager=False`` keeps the round-7 lazy behavior (the full dataflow
    stays visible in the returned frames' plans — what the
    per-batch-cost plan test inspects) but then the internal persists
    live until the session drops them.

    Returns ``(survivors, band_delta, dropped)``:
      - ``survivors``: batch rows that are new to the corpus;
      - ``band_delta``: their (band, bhash, keeper_id) rows — blind-append
        to the store to make the next batch incremental;
      - ``dropped``: (``id_col``, reason ∈ {dup_batch, dup_history},
        keeper) — the audit side-channel.

    Pipeline staging note: run :func:`incremental_dedup` (the exact
    8-byte-fingerprint pass) on the batch FIRST — byte-identical batch
    docs then never reach the LSH self-join, which is what keeps stage 1
    linear on template-heavy ingest (the |group|² clique effect measured
    at sf10; the batch operators here deliberately do NOT collapse
    internally because the gate-pinned ``keeper`` of a dropped doc is
    its minimum VERIFIED partner, which an internal collapse would
    coarsen to the group representative).

    Signature reuse (guide §4: cross the Python boundary once):
    ``batch_signatures`` is an already-computed ("_id", "_sig") frame
    for ``batch`` and ``history_signatures`` one for ``history_texts``
    (e.g. the frame the caller fed :func:`build_band_store` — the store
    build already signed every history text; re-signing keeper texts
    here was a second minhash pass over the same strings). When given,
    the corresponding minhash pass is skipped: batch signatures are used
    directly, and the stage-2 est-Jaccard cut fetches keeper signatures
    by id from ``history_signatures`` (a candidate-bounded semi-join —
    a projection, no recompute) instead of rebuilding them from keeper
    text. Signatures are a pure deterministic function of the text, so
    drop decisions are identical either way. Caller-passed frames are
    caller-owned: ``eager`` does not unpersist them.
    """
    sig = (
        _checked_signatures(batch_signatures, num_hashes, "batch_signatures")
        if batch_signatures is not None
        else _sig_frame(
            batch,
            text_col=text_col,
            id_col=id_col,
            num_hashes=num_hashes,
            shingle_n=shingle_n,
            seed=seed,
        )
    )
    banded = _with_bands(sig, num_hashes=num_hashes, bands=bands)

    # stage 1: within-batch (minhash_dedup contract). Deliberately
    # dedup-then-est (r13 tried-and-reverted the map-side est cut,
    # guide §2.3's shuffle-fewer-bytes instinct): on template-heavy
    # corpora the band self-join emits ~9.5x duplicate collisions per
    # pair (sf10: 2.73M collision rows -> 287k pairs), so computing est
    # per collision row before the dedup cost MORE than shuffling the
    # two 32-hash signature arrays per row saved (measured 4.5s -> 6.8s
    # for this stage at sf10; same pair set either way).
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bhash") == F.col("b._bhash"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._sig").alias("_sa"),
            F.col("b._sig").alias("_sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("_sa"), F.col("_sb"), lambda x, y: x == y),
                lambda v: v,
            )
        )
        / F.lit(float(num_hashes))
    )
    pairs = (
        pairs.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("id_a", "id_b")
    )
    if verify:
        pairs = verify_pairs_exact(
            pairs,
            batch,
            text_col=text_col,
            id_col=id_col,
            shingle_n=shingle_n,
            threshold=jaccard_threshold,
        )
    # persist the verified drop lists: tiny (bounded by the batch's dup
    # count), but every returned frame — survivors, delta, dropped — hangs
    # off them, and without a barrier each consumer re-executes the whole
    # LSH self-join + exact-verify subtree (measured 50s → 11s at sf0.001)
    dropped_batch = (
        pairs.groupBy(F.col("id_b").alias(id_col))
        .agg(F.min("id_a").alias("keeper"))
        .withColumn("reason", F.lit("dup_batch"))
        .persist()
    )

    surv_banded = banded.join(
        dropped_batch.select(F.col(id_col).alias("_id")), on="_id", how="left_anti"
    )

    # stage 2: persisted-store lookup for stage-1 survivors
    cand_est = None
    keeper_sig_frame = None
    if band_store is not None:
        cand = (
            surv_banded.join(
                band_store,
                (F.col("_band") == F.col("band"))
                & (F.col("_bhash") == F.col("bhash")),
            )
            .select(F.col("_id"), F.col("keeper_id"))
            .distinct()
        )
        if verify:
            if history_texts is None:
                raise ValueError(
                    "verify=True needs history_texts (id → text) to "
                    "exact-check candidates against their keepers; pass "
                    "verify=False for band-collision-only dedup"
                )
            cand = _verify_edges(
                cand,
                batch,
                history_texts,
                left_key="_id",
                right_key="keeper_id",
                text_col=text_col,
                id_col=id_col,
                shingle_n=shingle_n,
                threshold=jaccard_threshold,
            ).select("_id", "keeper_id")
            # est-Jaccard parity cut — the drop predicate is a
            # CONJUNCTION (band collision ∧ est ≥ t ∧ exact ≥ t), so
            # applying est AFTER exact verify is semantically identical
            # and touches only the verified edges (bounded by the
            # batch's dup count) instead of every band collision: keeper
            # signatures are recomputed from that tiny keeper-text fetch
            # as a plain projection — no extra barriers. Without this
            # cut a batch doc with exact Jaccard ≥ t but signature
            # agreement < t is dropped incrementally yet kept by the
            # full-corpus run.
            ver = cand.persist()  # semi-join + est join both consume it
            cand_est = ver
            if history_signatures is not None:
                # the store build already signed every history text —
                # fetch the verified keepers' signatures by id instead
                # of re-running the minhash pass over their texts
                keeper_sig = _checked_signatures(
                    history_signatures, num_hashes, "history_signatures"
                ).join(
                    ver.select(F.col("keeper_id").alias("_kid")).distinct(),
                    on=F.col("_id") == F.col("_kid"),
                    how="left_semi",
                ).select(
                    F.col("_id").alias("keeper_id"), F.col("_sig").alias("_ksig")
                )
            else:
                keeper_sig_frame = _sig_frame(
                    history_texts.join(
                        ver.select(F.col("keeper_id").alias(id_col)).distinct(),
                        on=id_col,
                        how="left_semi",
                    ),
                    text_col=text_col,
                    id_col=id_col,
                    num_hashes=num_hashes,
                    shingle_n=shingle_n,
                    seed=seed,
                    fan_out=False,  # semi-join output is already parallel
                )
                keeper_sig = keeper_sig_frame.select(
                    F.col("_id").alias("keeper_id"), F.col("_sig").alias("_ksig")
                )
            est2 = (
                F.size(
                    F.filter(
                        F.zip_with(
                            F.col("_bsig"), F.col("_ksig"), lambda x, y: x == y
                        ),
                        lambda v: v,
                    )
                )
                / F.lit(float(num_hashes))
            )
            cand = (
                ver.join(sig.select("_id", F.col("_sig").alias("_bsig")), "_id")
                .join(keeper_sig, "keeper_id")
                .filter(est2 >= F.lit(jaccard_threshold))
                .select("_id", "keeper_id")
            )
        dropped_hist = (
            cand.groupBy(F.col("_id").alias(id_col))
            .agg(F.min("keeper_id").alias("keeper"))
            .withColumn("reason", F.lit("dup_history"))
            .persist()
        )
        dropped = dropped_batch.unionByName(dropped_hist)
        surv_banded = surv_banded.join(
            dropped_hist.select(F.col(id_col).alias("_id")), on="_id", how="left_anti"
        )
    else:
        dropped_hist = None
        dropped = dropped_batch

    band_delta = surv_banded.select(
        F.col("_band").alias("band"),
        F.col("_bhash").alias("bhash"),
        F.col("_id").alias("keeper_id"),
    )
    dropped_out = dropped.select(id_col, "reason", "keeper")
    if eager:
        # materialize the two data-bearing outputs, then drop every
        # internal cache — per-batch ingest must not accumulate executor
        # storage across batches (see docstring; caller unpersists the
        # returned frames after the band_delta append / audit sink)
        band_delta = band_delta.persist()
        dropped_out = dropped_out.persist()
        band_delta.count()
        dropped_out.count()
        if batch_signatures is None:  # caller-passed frames are caller-owned
            sig.unpersist()
        dropped_batch.unpersist()
        if dropped_hist is not None:
            dropped_hist.unpersist()
        if cand_est is not None:
            cand_est.unpersist()
        if keeper_sig_frame is not None:
            keeper_sig_frame.unpersist()
        dropped = dropped_out
    survivors = batch.join(
        dropped.select(id_col), on=id_col, how="left_anti"
    )
    return survivors, band_delta, dropped_out


def _collapse_exact(
    docs: DataFrame, *, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """(representatives, member_edges): collapse docs whose NORMALIZED
    text (the LSH normalization — lower + whitespace-collapse) is
    byte-identical to their min-id representative before banding.

    Identical normalized text ⇒ identical signature ⇒ identical band
    buckets AND exact Jaccard 1.0, so every group member is a guaranteed
    verified pair of its representative at any threshold ≤ 1 and shares
    the representative's full external edge set — the collapse never
    changes component membership; it replaces each |group|² in-bucket
    clique with |group|−1 star edges. This is what makes LSH dedup
    survive template-heavy corpora: measured at the sf10 amplification,
    candidate pairs drop 47.1M → ~1.3M (the |group|² term was 36× the
    linear baseline and spilled >70 GB in the verify sort). The one
    semantic nuance for FIXED-ROUND label propagation: a non-rep member
    reaches distant labels one hop later than in the clique graph (it
    routes through its rep), so clusters at exactly the rounds-reach
    boundary may keep one extra per-subtree winner — gate hashes at both
    certified SFs are unchanged.

    NULL-text rows are NEVER collapsed: Spark's xxhash64 returns the seed
    for NULL input, which would silently merge every NULL-text doc into
    one group (and drop all but one). NULL shingles can't form verified
    pairs in the uncollapsed run, so each NULL-text row must stay its own
    representative — we key those groups by the row's own id."""
    norm_fp = F.when(
        F.col(text_col).isNotNull(),
        F.concat(
            F.lit("t"),
            F.xxhash64(
                F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
            ).cast("string"),
        ),
    ).otherwise(F.concat(F.lit("n"), F.col(id_col).cast("string")))
    grp = Window.partitionBy("_nfp")
    tagged = (
        docs.withColumn("_nfp", norm_fp)
        .withColumn("_rep", F.min(id_col).over(grp))
    )
    reps = tagged.filter(F.col(id_col) == F.col("_rep")).drop("_nfp", "_rep")
    member_edges = tagged.filter(F.col(id_col) != F.col("_rep")).select(
        F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b")
    )
    return reps, member_edges


def minhash_dedup_cc(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify: bool = True,
    collapse_exact: bool = True,
    **lsh_kwargs,
) -> DataFrame:
    """Near-dup removal with transitive closure: connected components over
    the LSH candidate pairs, keep the min-id representative per component.
    Unlike minhash_dedup (drop id_b per edge), a chain a~b~c keeps only a.

    ``verify`` (default ON) re-checks every candidate edge with exact
    n-gram Jaccard before clustering — false LSH edges would otherwise
    merge unrelated components transitively (the failure mode that
    deletes good documents at corpus scale).

    ``collapse_exact`` (default ON) pre-collapses normalized-identical
    docs to min-id representatives (see :func:`_collapse_exact`) —
    component membership is provably unchanged (CC runs to convergence
    here), and the |group|² clique edges that make template-heavy
    corpora quadratic never materialize."""
    reps, member_edges = (
        _collapse_exact(df, text_col=text_col, id_col=id_col)
        if collapse_exact
        else (df, None)
    )
    pairs = minhash_lsh_pairs(reps, text_col=text_col, id_col=id_col, **lsh_kwargs)
    if verify:
        pairs = verify_pairs_exact(
            pairs,
            reps,
            text_col=text_col,
            id_col=id_col,
            shingle_n=lsh_kwargs.get("shingle_n", 5),
            threshold=lsh_kwargs.get("jaccard_threshold", 0.5),
        )
    edges = pairs.select("id_a", "id_b")
    if member_edges is not None:
        edges = edges.unionByName(member_edges)
    comps = cluster_pairs(edges)
    to_drop = comps.filter(F.col("node") != F.col("cluster")).select(
        F.col("node").alias(id_col)
    )
    return df.join(to_drop, on=id_col, how="left_anti")


def minhash_dedup(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify: bool = True,
    collapse_exact: bool = True,
    **lsh_kwargs,
) -> DataFrame:
    """Near-dup removal: greedy survivor = smallest id in each candidate
    cluster (union by repeated min propagation is overkill at one LSH hop;
    pairs are treated as edges id_b → drop). ``verify`` (default ON) gates
    every drop behind exact n-gram Jaccard — est-Jaccard alone deletes
    ~40% false positives at the banding knee (measured, SCALE.md).

    ``collapse_exact`` (default ON): normalized-identical docs collapse
    to min-id reps first (:func:`_collapse_exact`); a non-rep member is
    dropped outright (its rep IS a verified smaller partner), a rep is
    dropped iff it has a verified smaller partner among reps — the exact
    drop set of the uncollapsed run, because every member shares its
    rep's edge set and the minimal partner of any doc is reachable
    through reps."""
    reps, member_edges = (
        _collapse_exact(df, text_col=text_col, id_col=id_col)
        if collapse_exact
        else (df, None)
    )
    pairs = minhash_lsh_pairs(reps, text_col=text_col, id_col=id_col, **lsh_kwargs)
    if verify:
        pairs = verify_pairs_exact(
            pairs,
            reps,
            text_col=text_col,
            id_col=id_col,
            shingle_n=lsh_kwargs.get("shingle_n", 5),
            threshold=lsh_kwargs.get("jaccard_threshold", 0.5),
        )
    to_drop = pairs.select(F.col("id_b").alias(id_col))
    if member_edges is not None:
        to_drop = to_drop.unionByName(
            member_edges.select(F.col("id_b").alias(id_col))
        )
    to_drop = to_drop.distinct()
    return df.join(to_drop, on=id_col, how="left_anti")


def ngram_jaccard(
    a: Column, b: Column, n: int = 3
) -> Column:
    """Exact n-gram Jaccard between two text columns (pair verification)."""
    sa, sb = shingles(a, n), shingles(b, n)
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_portable(col: Column, bits: int = 16) -> Column:
    """Cross-engine-exact SimHash: whitespace tokens → 31-ary polynomial
    codepoint hash mod PORTABLE_P masked to ``bits`` → per-bit majority
    vote. Pure Catalyst expressions; replayable in any int64 SQL engine
    (the DuckDB oracle for the simhash gate query runs the same formula),
    so the bucketing math itself is hash-verifiable."""
    assert 1 <= bits <= 31
    mask = (1 << bits) - 1
    tokens = F.filter(F.split(F.lower(col), r"\s+"), lambda t: F.length(t) > 0)
    hashes = F.transform(
        tokens,
        lambda t: F.aggregate(
            F.sequence(F.lit(1), F.length(t)),
            F.lit(0).cast("long"),
            lambda acc, i: (acc * 31 + F.ascii(F.substring(t, i, F.lit(1)))) % PORTABLE_P,
        ).bitwiseAND(F.lit(mask)),
    )
    n = F.size(tokens)
    out = F.lit(0).cast("long")
    for b in range(bits):
        ones = F.size(F.filter(hashes, lambda h: h.bitwiseAND(F.lit(1 << b)) != 0))
        out = out + F.when(ones * 2 > n, F.lit(1 << b)).otherwise(F.lit(0))
    return out


# --------------------------------------------------------------------------
# line-level dedup (CCNet-style)
# --------------------------------------------------------------------------


def dedup_lines(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "drop_frequent",
    max_docs: int = 10,
    sep: str = "\n",
) -> DataFrame:
    """Sub-document dedup: remove duplicated LINES across the corpus and
    reassemble each document (CCNet's paragraph-hash dedup, the standard
    boilerplate-removal pass before document-level MinHash).

    Policies:
    - ``drop_frequent``: delete every occurrence of a line appearing in
      more than ``max_docs`` distinct documents (nav bars, cookie banners,
      license footers). Documents keep their relative line order.
    - ``keep_first``: a line survives only in the document of its first
      occurrence, globally ordered by (id, position) — the deterministic
      tie-break the reference's keep-first row dedup uses (SURVEY §2.7),
      applied at line granularity.

    Returns (id, text, n_lines, n_kept); text is '' when every line was
    removed, so the caller can chain a min-length quality filter.

    Scale shape: explode to (id, pos, line) → one shuffle keyed on the
    line (frequency count or first-occurrence window) → one shuffle keyed
    on id to reassemble. Both keys are well-distributed (line text /
    document id); no cross product, no driver state. The frequent-line set
    is NOT collected or broadcast — it joins distributed, because at
    100 TB even the boilerplate set can exceed driver memory.
    """
    if mode not in ("drop_frequent", "keep_first"):
        raise ValueError(f"unknown mode {mode!r}")
    # F.split takes a REGEX but reassembly joins the LITERAL sep — quote
    # the pattern (\Q...\E) so metachar separators ('.', '|') split
    # literally and the round-trip stays symmetric
    sep_pat = f"\\Q{sep}\\E"
    # r13 tried-and-reverted: persisting this exploded (id, pos, line)
    # frame (to share it between drop_frequent's two consumers and
    # across the two-policy caller via plan canonicalization) measured
    # WORSE at both certified scales — sf0.1 2.05s -> 3.10s, sf10
    # 36.8s -> 41.7s — because the exploded frame is larger than the
    # (already-checkpointed) corpus it derives from: writing it to
    # storage costs more than re-running split+posexplode from the
    # in-memory corpus blocks. Guide §5: cache only when recompute is
    # the more expensive side; here it is not.
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep_pat)).alias("pos", "line"),
    )
    if mode == "drop_frequent":
        freq = (
            lines.groupBy("line")
            .agg(F.count_distinct(F.col(id_col)).alias("_n_docs"))
            .filter(F.col("_n_docs") > max_docs)
            .select("line")
        )
        kept = lines.join(freq, "line", "left_anti")
    else:
        w = Window.partitionBy("line").orderBy(F.col(id_col), F.col("pos"))
        kept = (
            lines.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .drop("_rk")
        )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            sep,
        ).alias(text_col),
        F.count(F.lit(1)).alias("n_kept"),
    )
    # n_lines is a pure projection of the original text (size of the
    # split), NOT a second explode+aggregate — that would re-shuffle the
    # whole corpus just to count what each row already knows
    totals = df.select(
        F.col(id_col), F.size(F.split(F.col(text_col), sep_pat)).alias("n_lines")
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            "n_lines",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        )
    )


# --------------------------------------------------------------------------
# semantic dedup (SemDeDup-style: cluster, then prune within cluster)
# --------------------------------------------------------------------------


def semantic_dedup(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iters: int = 2,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    embedding space into semantic clusters, then drop near-duplicate
    points *within* each cluster — the clustering bounds the candidate
    set so no cross-cluster pair is ever scored.

    Deterministic policy (engine-portable): clustering is the portable
    Lloyd kernel from ``ext/kmeans.py`` (every reduction order pinned);
    a point is a duplicate iff some SAME-CLUSTER point with a smaller id
    has cosine ≥ ``threshold`` to it (keep-min-id, the analog of the
    reference's keep-first row-dedup policy, SURVEY §2.7). Cosine uses
    the same left-fold reduction both engines replay bit-identically.

    Returns (id, cidx, is_dup) — callers anti-filter ``is_dup`` to keep
    the pruned corpus.

    Scale shape: k-means is O(n·k·dim) per iteration (see ext/kmeans.py);
    the prune is ONE self-equi-join shuffled on the cluster id. Candidate
    work is Θ(Σ_c |c|²): ``k`` is the density knob — production corpora
    raise k so clusters stay small (SemDeDup uses k≈10⁴ for 10⁸ docs);
    for huge clusters, bucket each cluster again by random-hyperplane
    signatures (``ext.similarity.lsh_signature``) and pair only within a
    bucket instead of the exact pairing. No driver
    collect; the centroid table (k×dim) is the only broadcast state.
    """
    from assignment_etl_spark.ext.kmeans import kmeans
    from assignment_etl_spark.ext.similarity import cosine

    assign, _cents = kmeans(
        emb, id_col=id_col, vec_col=vec_col, k=k, iters=iters
    )
    pts = emb.select(
        F.col(id_col).alias("pid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    labeled = assign.select("pid", "cidx").join(pts, "pid")
    a, b = labeled.alias("a"), labeled.alias("b")
    dup_ids = (
        a.join(
            b,
            (F.col("a.cidx") == F.col("b.cidx"))
            & (F.col("a.pid") < F.col("b.pid")),
        )
        .filter(cosine(F.col("a.v"), F.col("b.v")) >= threshold)
        .select(F.col("b.pid").alias("pid"))
        .distinct()
    )
    return (
        labeled.join(dup_ids.withColumn("_dup", F.lit(True)), "pid", "left")
        .select(
            F.col("pid").alias(id_col),
            "cidx",
            F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"),
        )
    )


def minhash_dedup_keep_best(
    docs: DataFrame,
    score: Column,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.4,
    rounds: int = 4,
    collapse_exact: bool = True,
    **lsh_kwargs,
) -> DataFrame:
    """Survivorship dedup: keep the BEST copy of every near-dup cluster,
    not merely the first. Clusters come from MinHash+LSH candidate
    pairs (:func:`minhash_lsh_pairs`) closed under ``rounds`` of
    fixed-round min-label propagation (ext/graph.min_label_rounds — the
    oracle-certifiable CC form); within each cluster the member with
    the highest ``score`` survives, ties broken by smallest id.
    Unclustered documents are their own cluster and always survive.

    ``score`` is any deterministic per-row expression — the canonical
    use is ext/text.quality_score, so dedup discards the boilerplate
    copy and keeps the clean one (the survivorship policy corpus
    curation actually wants, vs. keep-min-id's arbitrary pick).

    Returns (id, cluster, score, keep).

    Scale shape: inherits the banding economics of minhash_lsh_pairs
    (shuffles signatures, never text), O(|E|) per propagation round on
    the CANDIDATE edge list only, and one window shuffle on the cluster
    key for the winner pick. Fixed rounds bound the iteration; clusters
    wider than the round count's reach keep per-subtree winners (the
    documented trade — raise ``rounds`` for pathological chains).
    """
    from assignment_etl_spark.ext.graph import min_label_rounds

    reps, member_edges = (
        _collapse_exact(docs, text_col=text_col, id_col=id_col)
        if collapse_exact
        else (docs, None)
    )
    pairs = minhash_lsh_pairs(
        reps,
        text_col=text_col,
        id_col=id_col,
        jaccard_threshold=jaccard_threshold,
        **lsh_kwargs,
    )
    if member_edges is not None:
        # star edges re-attach normalized-identical members; scores stay
        # per ORIGINAL row, so the winner window still ranks every member
        pairs = pairs.select("id_a", "id_b").unionByName(member_edges)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    labels = min_label_rounds(edges, rounds=rounds)
    base = docs.select(F.col(id_col).alias("_id"), score.alias("_score"))
    lab = (
        base.join(labels.withColumnRenamed("node", "_id"), "_id", "left")
        .withColumn("cluster", F.coalesce(F.col("label"), F.col("_id")))
        .drop("label")
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("_score").desc(), F.col("_id")
    )
    return lab.select(
        F.col("_id").alias(id_col),
        "cluster",
        F.col("_score").alias("score"),
        (F.row_number().over(w) == 1).alias("keep"),
    )
