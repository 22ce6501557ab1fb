"""ext/unigram_lm.py: Viterbi-EM unigram tokenizer vs a pure-Python
replica (same seed rule, same decimal rounding, same tie-breaks),
encode round-trip, exclusion of over-long words, parameter guards."""

import math
from collections import Counter
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from assignment_etl_spark import internals
from assignment_etl_spark.ext.unigram_lm import (
    train_unigram_lm,
    viterbi_encode,
)


def _py_word_freq(texts):
    c = Counter()
    for t in texts:
        for w in t.lower().split():
            if w:
                c[w] += 1
    return c


def _py_occurrences(wf, mpl, mwl):
    occ = Counter()
    for w, n in wf.items():
        if len(w) > mwl:
            continue
        for i in range(len(w)):
            for l in range(1, min(mpl, len(w) - i) + 1):
                occ[w[i : i + l]] += n
    return occ


def _py_lp(counts):
    tot = sum(counts.values())
    return {
        p: Decimal(str(round(math.log(c / tot), 6)))
        for p, c in counts.items()
    }


def _py_viterbi(word, lp, mpl):
    best = {0: (Decimal("0"), None, None)}  # pos -> (score, l, piece)
    for j in range(1, len(word) + 1):
        cands = []
        for l in range(1, min(mpl, j) + 1):
            piece = word[j - l : j]
            if piece in lp and (j - l) in best:
                cands.append((best[j - l][0] + lp[piece], l, piece))
        if cands:
            # score desc, l asc, piece asc
            cands.sort(key=lambda c: (-c[0], c[1], c[2]))
            best[j] = cands[0]
    if len(word) not in best:
        return None
    pieces, pos = [], len(word)
    while pos > 0:
        _, l, piece = best[pos]
        pieces.append(piece)
        pos -= l
    return list(reversed(pieces))


def _py_train(texts, *, seed_multi, mpl, mwl, n_iters):
    wf = _py_word_freq(texts)
    occ = _py_occurrences(wf, mpl, mwl)
    singles = {p: c for p, c in occ.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in occ.items() if len(p) > 1),
        key=lambda x: (-x[1], x[0]),
    )[:seed_multi]
    counts = dict(singles)
    counts.update(dict(multi))
    lp = _py_lp(counts)
    for _ in range(n_iters):
        ecnt = Counter()
        for w, n in wf.items():
            if len(w) > mwl:
                continue
            seg = _py_viterbi(w, lp, mpl)
            if seg:
                for p in seg:
                    ecnt[p] += n
        counts = dict(ecnt)
        lp = _py_lp(counts)
    return counts, lp


TEXTS = [
    "the cat sat on the mat",
    "the cats sat on the mats",
    "a cat and a mat",
    "the hat and the bat",
    "cats wear hats and bats hit mats",
    "internationalization is long",
]


def test_train_matches_python_replica(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )
    got = train_unigram_lm(
        docs, seed_multi=16, max_piece_len=3, max_word_len=8, n_iters=2
    ).collect()
    want_counts, want_lp = _py_train(
        TEXTS, seed_multi=16, mpl=3, mwl=8, n_iters=2
    )
    got_counts = {r.piece: r.cnt for r in got}
    assert got_counts == want_counts
    for r in got:
        assert Decimal(str(r.lp)) == want_lp[r.piece], r.piece
    # long words were excluded from training entirely
    assert all("internationalization".find(p) == -1 or len(p) <= 3 for p in got_counts)


def test_encode_matches_python_viterbi(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )
    vocab = train_unigram_lm(
        docs, seed_multi=16, max_piece_len=3, max_word_len=8, n_iters=1
    )
    words = spark.createDataFrame(
        [("cats",), ("mat",), ("hat",), ("bat",), ("internationalization",)],
        "word string",
    )
    out = {
        r.word: r.pieces
        for r in viterbi_encode(
            words, vocab, max_piece_len=3, max_word_len=8
        ).collect()
    }
    _, lp = _py_train(TEXTS, seed_multi=16, mpl=3, mwl=8, n_iters=1)
    for w in ("cats", "mat", "hat", "bat"):
        assert out[w] == _py_viterbi(w, lp, 3), w
        assert "".join(out[w]) == w  # segmentation covers the word
    assert out["internationalization"] is None  # over max_word_len


def test_param_guards(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_iters"):
        train_unigram_lm(docs, n_iters=0)
    with pytest.raises(ValueError, match="max_piece_len"):
        train_unigram_lm(docs, max_piece_len=1)
    with pytest.raises(ValueError, match="max_word_len"):
        train_unigram_lm(docs, max_word_len=2, max_piece_len=4)


def test_vocab_size_pruning(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )
    full = train_unigram_lm(
        docs, seed_multi=16, max_piece_len=3, max_word_len=8, n_iters=1
    ).collect()
    chars = sorted(r.piece for r in full if len(r.piece) == 1)
    target = len(chars) + 3
    pruned = train_unigram_lm(
        docs, seed_multi=16, max_piece_len=3, max_word_len=8, n_iters=1,
        vocab_size=target,
    ).collect()
    assert len(pruned) == target
    # the coverage floor survives: every single char kept
    assert sorted(r.piece for r in pruned if len(r.piece) == 1) == chars
    # multis kept are the top-3 of the full model by (cnt desc, piece)
    want_multi = sorted(
        ((r.cnt, r.piece) for r in full if len(r.piece) > 1),
        key=lambda x: (-x[0], x[1]),
    )[:3]
    got_multi = sorted(
        ((r.cnt, r.piece) for r in pruned if len(r.piece) > 1),
        key=lambda x: (-x[0], x[1]),
    )
    assert got_multi == want_multi
    # log-probs renormalized over the KEPT mass
    from decimal import Decimal
    import math as _m

    tot = sum(r.cnt for r in pruned)
    for r in pruned:
        assert Decimal(str(r.lp)) == Decimal(
            str(round(_m.log(r.cnt / tot), 6))
        ), r.piece
    with pytest.raises(ValueError, match="vocab_size"):
        train_unigram_lm(docs, vocab_size=0)


def test_trained_plan_stats_stay_bounded(spark):
    """r11 driver-side planning explosion, pinned: chained
    localCheckpoints PRESERVE join-product sizeInBytes estimates, and
    across the DP's stages the preserved numbers compound until every
    stats consumer (JoinSelection.canBroadcastBySize,
    InjectRuntimeFilter) grinds arbitrary-precision BigInteger products
    at PLANNING time — measured 19 minutes of single-threaded driver
    CPU to encode a 150-word table. The stats-severed checkpoint
    (caching.stats_severed_local_checkpoint) resets every stage to the
    unknown sentinel, so the final plan's estimate stays within a few
    machine words. This asserts the structural property, not a timing."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )
    vocab = train_unigram_lm(
        docs, seed_multi=16, max_piece_len=3, max_word_len=8, n_iters=2
    )
    words = docs.selectExpr("explode(split(lower(text), ' ')) as word").distinct()
    out = viterbi_encode(
        words, vocab, max_piece_len=3, max_word_len=8
    )
    n = internals.plan_size_bytes(internals.optimized_plan(out))
    assert n.bit_length() < 512, (
        f"plan sizeInBytes is {n.bit_length()} bits — checkpoint stats "
        "compounding is back"
    )
