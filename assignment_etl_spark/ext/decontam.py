"""Benchmark decontamination: drop training documents that overlap an
evaluation set.

The standard contamination test (GPT-3 appendix C, The Pile, FineWeb) is
word-n-gram overlap: a document is contaminated when it shares at least
``min_hits`` distinct n-grams (n ≈ 13) with any benchmark text. Semantics
here follow that recipe; the reference engine has no such operator — this
extends the corpus-curation family (ext/text.py, ext/dedup.py).

Scale shape (100 TB corpus, benchmark = eval sets, i.e. MBs):
- The benchmark's distinct n-gram set is SMALL by definition → broadcast.
  The whole operator is then scan → generate n-grams (one codegen'd
  projection: split / transform / slice, no Python) → broadcast-hash
  semi/inner join → optional partial-count agg on doc_id. No all-to-all
  shuffle of corpus text anywhere.
- N-grams are joined as strings for auditability at this scale; for a
  benchmark too large to broadcast raw, pre-hash both sides with
  ``F.xxhash64`` (64-bit keys, 8 bytes/gram) — same plan, smaller build
  side. The oracle path keeps strings so DuckDB can replay it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_ngrams(col: Column, n: int) -> Column:
    """Array of word n-grams (space-joined) of ``col``; empty array when
    the text has fewer than n words. Pure Catalyst: split → transform →
    slice → array_join, all inside whole-stage codegen."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    words = F.split(F.trim(col), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(words) - n),
        lambda i: F.array_join(F.slice(words, i + 1, n), " "),
    )
    return F.when(F.size(words) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _gram_sets(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, gram) with per-document distinct grams. Dedup happens
    INSIDE the projection (array_distinct before the explode — the
    novelty_scores shape), not as a dropDuplicates: per-document
    distinctness never needs a shuffle, and the old form shuffled EVERY
    corpus gram before the selective broadcast join downstream (r13,
    guide §2.4/§3.2 — that dedup exchange carried the whole corpus's
    gram stream to feed a join that keeps a sliver of it; measured
    sf0.1 3.52s -> 3.25s, sf10 21.5s -> 17.8s, 13 -> 10 stages).

    Precondition: ``id_col`` is unique in ``df`` — one row per document.
    The distinct is per ROW, so two rows sharing an id each emit their
    grams and (id, gram) pairs repeat, which inflates every per-id gram
    count downstream (``contamination_hits``' n_hits). Deduplicate ids
    upstream when a corpus may carry repeated ids."""
    return df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_ngrams(F.col(text_col), n))
        ).alias("gram"),
    )


def contamination_hits(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
) -> DataFrame:
    """(id, n_hits): distinct benchmark n-grams each document contains.
    Documents with zero hits are absent — the report feeds both the
    decontamination filter and the contamination audit a release needs."""
    bench_grams = (
        benchmark.select(
            F.explode(word_ngrams(F.col(bench_text_col or text_col), n)).alias("gram")
        )
        .distinct()
    )
    return (
        _gram_sets(docs, id_col, text_col, n)
        .join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 13,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
) -> DataFrame:
    """Docs minus contaminated ones. For min_hits=1 this is a pure
    broadcast anti-join of exploded grams (no aggregation at all); for
    higher thresholds the hit counts gate a left_anti on id."""
    if min_hits == 1:
        bench_grams = (
            benchmark.select(
                F.explode(
                    word_ngrams(F.col(bench_text_col or text_col), n)
                ).alias("gram")
            )
            .distinct()
        )
        dirty_ids = (
            docs.select(
                F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("gram")
            )
            .join(F.broadcast(bench_grams), "gram")
            .select(id_col)
            .distinct()
        )
    else:
        hits = contamination_hits(
            docs, benchmark, n=n, id_col=id_col,
            text_col=text_col, bench_text_col=bench_text_col,
        )
        dirty_ids = hits.filter(F.col("n_hits") >= min_hits).select(id_col)
    return docs.join(dirty_ids, id_col, "left_anti")


def novelty_scores(
    corpus: DataFrame,
    reference: DataFrame,
    *,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 6,
    broadcast_reference: bool = True,
) -> DataFrame:
    """Per-document n-gram NOVELTY against a reference corpus: the
    fraction of the document's distinct word n-grams absent from the
    reference's distinct n-gram set — the inverse of contamination
    (decontaminate drops overlap with a benchmark; novelty MEASURES
    distance from what a model has already seen, the dedup-aware
    diversity signal data-mixing decisions use).

    Returns (id, n_grams, n_novel, novelty) — novelty NULL for docs
    with fewer than n words (no grams to judge).

    Scale shape: same economics as decontamination when the reference
    is broadcastable; when it is NOT (novelty vs the full pretraining
    corpus), pass ``broadcast_reference=False`` — the gram join then
    runs shuffled on the gram key (still key-partitioned, never
    all-pairs; pre-hash both sides with xxhash64 to shuffle 8-byte keys
    instead of strings).
    """
    ref_grams = (
        reference.select(
            F.explode(word_ngrams(F.col(text_col), n)).alias("gram")
        )
        .distinct()
        .withColumn("_seen", F.lit(True))
    )
    doc_grams = corpus.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias(
            "gram"
        ),
    )
    if broadcast_reference:
        ref_grams = F.broadcast(ref_grams)
    counts = (
        doc_grams.join(ref_grams, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("_seen").isNull().cast("long")).alias("n_novel"),
        )
    )
    return corpus.select(F.col(id_col)).join(counts, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
        F.when(
            F.col("n_grams") > 0,
            F.round(F.col("n_novel") / F.col("n_grams"), round_to),
        ).alias("novelty"),
    )
