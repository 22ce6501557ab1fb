"""Unigram-LM (SentencePiece-class) subword tokenizer trainer, Spark-first.

The OTHER mainstream subword algorithm next to BPE (ext/bpe.py): instead
of greedy pair merging, fit a unigram language model over a candidate
piece vocabulary and keep the pieces the model uses (Kudo 2018,
"Subword Regularization" — public). This is the HARD-EM (Viterbi-EM)
variant with FIXED iterations: the E-step segments each word with the
best (max-log-prob) segmentation under the current piece table, the
M-step re-estimates piece log-probs from the segmentation counts, and
pieces the Viterbi paths stop using drop out. Fixed iterations + exact
decimal scores make the whole train loop oracle-replayable — the same
certified-iterative shape as PageRank/BPE/k-means/CC.

Scale shape (the BPE insight again): training statistics only ever need
the WORD-FREQUENCY table — one corpus pass builds (word, n), bounded by
vocabulary size; every EM iteration runs on that table and the
vocab-bounded candidate/match tables, never on the corpus again.
The Viterbi DP is RELATIONAL: position j's frontier is one bounded join
(matches ending at j × frontiers at j−l) + one per-word keyed window —
max_word_len chained stages, each localCheckpointed so the lazy plan
never nests (a naive recursive build would blow up 4^L). Encoding maps
the corpus through the trained table by broadcast join.

Determinism: piece log-probs are round-6 decimal(18,6) (the ext/lm.py
per-token policy); DP scores are exact decimal sums of those; the
per-position argmax breaks ties (score desc, piece length asc, piece
asc) — every comparison is on exact decimals, so a DuckDB oracle
replays train AND encode bit-for-bit as chained CTEs.

Words longer than ``max_word_len`` are EXCLUDED from training (and from
the trained counts): the DP cost is linear in the cap, tail words
contribute little to piece statistics, and the rule is trivially
engine-portable. Document the cap with the model artifact.

Reference parity note: the reference repo tokenizes nothing; this
completes the tokenizer family (VERDICT r6 ask #5) as
training-data-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from assignment_etl_spark.caching import stats_severed_local_checkpoint as _ck
from assignment_etl_spark.ext.bpe import _word_freq

DEC = "decimal(18,6)"


def _occurrences(
    wf: DataFrame, *, max_piece_len: int, max_word_len: int
) -> DataFrame:
    """(word, n, len, i, l, piece): every substring occurrence of length
    ≤ max_piece_len in words of length ≤ max_word_len. Bounded by
    |words| · max_word_len · max_piece_len — a vocab-scale table."""
    w2 = wf.withColumn("len", F.length("word")).filter(
        F.col("len") <= max_word_len
    )
    return (
        w2.select(
            "word", "n", "len",
            F.explode(F.sequence(F.lit(1), F.col("len"))).alias("i"),
        )
        .select(
            "word", "n", "len", "i",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.lit(max_piece_len),
                        F.col("len") - F.col("i") + F.lit(1),
                    ),
                )
            ).alias("l"),
        )
        .withColumn("piece", F.substr(F.col("word"), F.col("i"), F.col("l")))
    )


def _with_lp(counts: DataFrame) -> DataFrame:
    """(piece, cnt, lp): lp = round(ln(cnt / Σcnt), 6) :: decimal(18,6)
    — the replayable unigram log-prob over the CURRENT vocabulary."""
    tot = counts.agg(F.sum("cnt").alias("_tot"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "piece",
        "cnt",
        F.round(F.log(F.col("cnt") / F.col("_tot")), 6).cast(DEC).alias("lp"),
    )


def _forward_chosen(
    matches: DataFrame, words: DataFrame, *, max_piece_len: int,
    max_word_len: int
) -> DataFrame | None:
    """Forward Viterbi pass: (word, j, l, piece) — the argmax piece
    ending each reachable prefix length j, for every word. Position j's
    frontier is one bounded join (matches ending at j x the ≤
    max_piece_len previous frontiers) + one per-word keyed window;
    each stage is localCheckpointed so the 4-way frontier fan-in never
    nests into a 4^L lazy plan. None when nothing matched at all."""
    frontier = {
        0: words.select("word", F.lit("0.000000").cast(DEC).alias("score"))
    }
    chosen = []
    rank_w = Window.partitionBy("word").orderBy(
        F.desc("score"), F.asc("l"), F.asc("piece")
    )
    for j in range(1, max_word_len + 1):
        prevs = [
            frontier[p].select("word", F.lit(p).alias("pos"), "score")
            for p in range(max(0, j - max_piece_len), j)
            if p in frontier
        ]
        if not prevs:
            break
        prev = prevs[0]
        for extra in prevs[1:]:
            prev = prev.unionByName(extra)
        cand = (
            matches.filter((F.col("i") + F.col("l") - F.lit(1)) == j)
            .alias("m")
            .join(
                prev.alias("b"),
                (F.col("m.word") == F.col("b.word"))
                & (F.col("b.pos") == F.lit(j) - F.col("m.l")),
            )
            .select(
                F.col("m.word").alias("word"),
                (F.col("b.score") + F.col("m.lp")).alias("score"),
                F.col("m.l").alias("l"),
                F.col("m.piece").alias("piece"),
            )
        )
        top = (
            cand.withColumn("rn", F.row_number().over(rank_w))
            .filter(F.col("rn") == 1)
            .select("word", "score", "l", "piece")
            .transform(_ck)
        )
        frontier[j] = top.select("word", "score")
        chosen.append(top.select("word", F.lit(j).alias("j"), "l", "piece"))
    if not chosen:
        return None
    c_all = chosen[0]
    for extra in chosen[1:]:
        c_all = c_all.unionByName(extra)
    return c_all.transform(_ck)


def _backtrack(
    start: DataFrame, c_all: DataFrame, *, max_word_len: int,
    carry: list[str]
) -> DataFrame:
    """Walk the chosen-piece pointers from (word, pos=len, *carry) down
    to pos 0, emitting one row per consumed piece:
    (word, pos, piece, *carry) with pos the piece's START index. The
    chain is linear (≤ max_word_len bounded joins); a word whose chain
    hits a missing pointer cannot occur (chosen-at-j implies a frontier
    at j−l, inductively down to 0)."""
    walk = start
    emitted = []
    for _step in range(max_word_len):
        step = (
            walk.filter(F.col("pos") > 0)
            .join(c_all, (walk.word == c_all.word) & (c_all.j == walk.pos))
            .select(
                walk.word.alias("word"),
                (F.col("pos") - F.col("l")).alias("pos"),
                "piece",
                *carry,
            )
        )
        emitted.append(step)
        walk = step.select("word", "pos", *carry)
    out = emitted[0]
    for extra in emitted[1:]:
        out = out.unionByName(extra)
    return out


def _viterbi_counts(
    wf: DataFrame,
    vocab: DataFrame,
    *,
    max_piece_len: int,
    max_word_len: int,
    occ: DataFrame | None = None,
) -> DataFrame:
    """E-step: (piece, cnt) — corpus-weighted piece counts over each
    word's best segmentation under ``vocab`` (piece, lp): the shared
    forward DP + backtrack, then one (piece) aggregate weighted by word
    frequency. A word with no surviving path (cannot happen when vocab
    ⊇ its previous segmentation — see module docstring) would simply
    drop out of the counts."""
    if occ is None:
        occ = _occurrences(
            wf, max_piece_len=max_piece_len, max_word_len=max_word_len
        )
    matches = (
        occ.join(F.broadcast(vocab.select("piece", "lp")), on="piece")
        .select("word", "n", "len", "i", "l", "piece", "lp")
        .transform(_ck)
    )
    words = matches.select("word", "n", "len").distinct()
    c_all = _forward_chosen(
        matches, words.select("word"),
        max_piece_len=max_piece_len, max_word_len=max_word_len,
    )
    if c_all is None:
        return wf.sparkSession.createDataFrame([], "piece string, cnt long")
    segs = _backtrack(
        words.select("word", F.col("len").alias("pos"), "n"),
        c_all,
        max_word_len=max_word_len,
        carry=["n"],
    )
    return segs.groupBy("piece").agg(F.sum("n").alias("cnt"))


def train_unigram_lm(
    docs: DataFrame,
    *,
    text_col: str = "text",
    seed_multi: int = 64,
    max_piece_len: int = 4,
    max_word_len: int = 12,
    n_iters: int = 2,
    vocab_size: int | None = None,
) -> DataFrame:
    """Train the unigram tokenizer; returns the final piece table
    (piece, cnt, lp) — cnt the last E-step's corpus-weighted count, lp
    the matching M-step log-prob. Seed vocabulary = ALL single
    characters (guarantees every word is segmentable in iteration 1)
    plus the ``seed_multi`` most frequent multi-character substrings
    (occurrence-weighted, ties piece-asc); each EM iteration Viterbi-
    segments the word table and re-estimates; pieces unused by every
    best path drop out (their previous segmentations keep all words
    coverable — monotone by construction).

    ``vocab_size`` prunes AFTER the EM loop, SentencePiece-style: all
    single characters are kept (the coverage floor — dropping one could
    orphan a word), multi-character pieces keep the top
    (vocab_size − #chars) slots by (cnt desc, piece asc), and log-probs
    re-normalize over the kept set. The single driver-side count it
    costs is alphabet-bounded."""
    if n_iters < 1:
        raise ValueError(f"need n_iters >= 1, got {n_iters}")
    if vocab_size is not None and vocab_size < 1:
        raise ValueError(f"need vocab_size >= 1, got {vocab_size}")
    if max_piece_len < 2:
        raise ValueError(f"need max_piece_len >= 2, got {max_piece_len}")
    if max_word_len < max_piece_len:
        raise ValueError("need max_word_len >= max_piece_len")
    wf = _word_freq(docs, text_col=text_col).transform(_ck)
    occ = _occurrences(
        wf, max_piece_len=max_piece_len, max_word_len=max_word_len
    ).transform(_ck)
    seed = occ.groupBy("piece").agg(F.sum("n").alias("cnt"))
    singles = seed.filter(F.length("piece") == 1)
    multi = (
        seed.filter(F.length("piece") > 1)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(seed_multi)
    )
    vocab = _with_lp(singles.unionByName(multi)).transform(_ck)
    for _it in range(n_iters):
        cnts = _viterbi_counts(
            wf,
            vocab,
            max_piece_len=max_piece_len,
            max_word_len=max_word_len,
            occ=occ,
        )
        vocab = _with_lp(cnts).transform(_ck)
    if vocab_size is not None:
        chars = vocab.filter(F.length("piece") == 1)
        n_chars = chars.count()  # bounded: alphabet-sized
        kept_multi = (
            vocab.filter(F.length("piece") > 1)
            .orderBy(F.desc("cnt"), F.asc("piece"))
            .limit(max(0, vocab_size - n_chars))
        )
        vocab = _with_lp(
            chars.select("piece", "cnt").unionByName(
                kept_multi.select("piece", "cnt")
            )
        ).transform(_ck)
    return vocab


def viterbi_encode(
    words: DataFrame,
    vocab: DataFrame,
    *,
    word_col: str = "word",
    out_col: str = "pieces",
    max_piece_len: int = 4,
    max_word_len: int = 12,
    byte_fallback: bool = False,
) -> DataFrame:
    """Append ``out_col``: the word's best segmentation under the
    trained (piece, lp) table, as an array in word order. Runs the same
    forward/backtrack DP on the DISTINCT word table — broadcast-join
    the result back to a corpus rather than re-encoding occurrences.
    Words longer than ``max_word_len`` or with no surviving path get a
    NULL segmentation (the training-side exclusion, surfaced instead of
    hidden) — unless ``byte_fallback`` (SentencePiece-style): then any
    un-segmentable word degrades to its ``<0xXX>`` UTF-8 byte pieces
    (ext/bpe.byte_pieces) instead of dropping, so a multilingual corpus
    never loses characters the trainer did not see."""
    wf = words.select(F.col(word_col).alias("word")).distinct().withColumn(
        "n", F.lit(1)
    )
    occ = _occurrences(
        wf, max_piece_len=max_piece_len, max_word_len=max_word_len
    )
    matches = (
        occ.join(F.broadcast(vocab.select("piece", "lp")), on="piece")
        .select("word", "len", "i", "l", "piece", "lp")
        .transform(_ck)
    )
    wl = matches.select("word", "len").distinct()
    c_all = _forward_chosen(
        matches, wl.select("word"),
        max_piece_len=max_piece_len, max_word_len=max_word_len,
    )
    if c_all is not None:
        segs = _backtrack(
            wl.select("word", F.col("len").alias("pos")),
            c_all,
            max_word_len=max_word_len,
            carry=[],
        )
        # each emitted pos is the consumed piece's START index, so
        # ascending pos IS word order
        arr = segs.groupBy("word").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "piece"))),
                lambda s: s["piece"],
            ).alias(out_col)
        )
    else:
        arr = wl.select("word").limit(0).withColumn(
            out_col, F.array(F.lit("")).cast("array<string>")
        )
    out = words.join(
        arr.withColumnRenamed("word", "_w"),
        F.col(word_col) == F.col("_w"),
        "left",
    ).drop("_w")
    if byte_fallback:
        from assignment_etl_spark.ext.bpe import byte_pieces

        out = out.withColumn(
            out_col,
            F.coalesce(F.col(out_col), byte_pieces(F.col(word_col))),
        )
    return out
