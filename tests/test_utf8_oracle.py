"""Non-ASCII certification of the portable text family (VERDICT r8 ask
#4): the Spark engine is compared ROW FOR ROW against the pure-CPython
oracle in tools/utf8_oracle.py over the committed UTF-8 fixture corpus
(CJK, kana, hangul, NFC-vs-NFD combining marks, astral plane, RTL,
Greek final sigma, Turkish dotted i, ideographic space, ligatures), and
the oracle's output hashes are pinned by GATES_UTF8.json — the
GATES.json-style tripwire, so neither side can drift silently."""

import json
import re
import sys
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")
from tools import utf8_oracle as O  # noqa: E402


@pytest.fixture(scope="module")
def docs():
    return O.load_fixture()


@pytest.fixture(scope="module")
def docs_df(spark, docs):
    return spark.createDataFrame(docs, "doc_id long, text string").persist()


def test_fixture_is_genuinely_non_ascii(docs):
    texts = [t for _i, t in docs]
    assert any(any(ord(c) > 0xFFFF for c in t) for t in texts)  # astral
    assert any("́" in t for t in texts)                    # combining
    assert any("　" in t for t in texts)                    # ideographic ws
    assert sum(not t.isascii() for t in texts) >= 15


def test_exact_dedup_matches_python(spark, docs, docs_df):
    from assignment_etl_spark.ext.dedup import exact_dedup

    got = sorted(r.doc_id for r in exact_dedup(docs_df).collect())
    assert [(i,) for i in got] == O.exact_dedup_survivors(docs)
    # NFC and NFD spellings are DIFFERENT documents (no unicode
    # normalization in the engine) — both survive
    assert 8 in got and 9 in got
    # ideographic space is NOT \s: doc 19's tokens stay glued, and the
    # Java-trim contract keeps it at the edges too
    assert 19 in got


def test_portable_minhash_and_bands_match_python(spark, docs, docs_df):
    from assignment_etl_spark.ext.dedup import (
        _sig_frame,
        minhash_signature,
        portable_band_hash,
    )

    sig = F.col("sig")
    rows = (
        docs_df.select(
            "doc_id",
            minhash_signature(F.col("text"), 32, 5, 7).alias("sig"),
        )
        .select(
            "doc_id",
            "sig",
            F.array(
                *[portable_band_hash(sig, b * 4 + 1, 4) for b in range(8)]
            ).alias("bands"),
        )
        .collect()
    )
    # the staged frame every LSH pipeline (and the three minhash gates)
    # bands — fan-out exchange and persist included
    staged = {
        r._id: list(r._sig)
        for r in _sig_frame(
            docs_df, text_col="text", id_col="doc_id", num_hashes=32,
            shingle_n=5, seed=7,
        ).collect()
    }
    assert len(staged) == len(rows) == len(docs)
    for r in rows:
        want_sig = O.minhash_sig(dict(docs)[r.doc_id])
        assert list(r.sig) == want_sig, f"sig mismatch doc {r.doc_id}"
        assert staged[r.doc_id] == want_sig, f"_sig_frame mismatch doc {r.doc_id}"
        assert list(r.bands) == O.band_hashes(want_sig), f"bands doc {r.doc_id}"


def test_byte_fallback_matches_python(spark, docs, docs_df):
    from assignment_etl_spark.ext.bpe import apply_byte_fallback, word_freq

    wf = word_freq(docs_df)
    words = sorted(r.word for r in wf.collect())
    ascii_vocab = {w for w in words if w.isascii()}
    rows = spark.createDataFrame(
        [(w, [w]) for w in words], "word string, pieces array<string>"
    )
    vocab = spark.createDataFrame([(w,) for w in sorted(ascii_vocab)], "piece string")
    got = {
        r.word: list(r.pieces)
        for r in apply_byte_fallback(rows, vocab).collect()
    }
    for w in words:
        assert got[w] == O.byte_fallback([w], ascii_vocab), repr(w)


def test_bpe_encode_matches_python(spark, docs, docs_df):
    from assignment_etl_spark.ext.bpe import encode_words, train_bpe, word_freq

    merges = train_bpe(docs_df, n_merges=24)
    pairs = [(lft, rgt) for _s, lft, rgt, _c in merges]
    wf = word_freq(docs_df).filter(~F.col("word").contains("("))
    got = {
        r.word: list(r.pieces) for r in encode_words(wf, merges).collect()
    }
    assert len(got) > 50
    for w, pieces in got.items():
        assert pieces == O.bpe_encode(w, pairs), repr(w)
        assert "".join(pieces) == w.lower(), repr(w)  # lossless on any script


def test_unigram_train_and_viterbi_match_python(spark, docs, docs_df):
    from assignment_etl_spark.ext.bpe import word_freq
    from assignment_etl_spark.ext.unigram_lm import (
        train_unigram_lm,
        viterbi_encode,
    )

    vocab_df = train_unigram_lm(
        docs_df, seed_multi=48, max_piece_len=4, max_word_len=12, n_iters=2
    )
    spark_vocab = {r.piece: Decimal(r.lp) for r in vocab_df.collect()}
    # training replay: the EM loop lands on the identical (piece, lp) table
    assert spark_vocab == O.unigram_train(docs, seed_multi=48, n_iters=2)

    words = word_freq(docs_df).select("word")
    got = {
        r.word: (None if r.pieces is None else list(r.pieces))
        for r in viterbi_encode(words, vocab_df).collect()
    }
    for w, pieces in got.items():
        assert pieces == O.viterbi_encode(w, spark_vocab), repr(w)


def test_manifest_pins_oracle_outputs(docs):
    committed = json.load(open("/root/repo/GATES_UTF8.json"))
    got = {
        name: {"rows": len(rows), "hash": O.canon_hash(rows)}
        for name, rows in O.checks(docs).items()
    }
    assert got == committed["checks"], (
        "UTF-8 oracle outputs drifted from GATES_UTF8.json — if the "
        "change is intended, regenerate with: python tools/utf8_oracle.py write"
    )


def test_bpe_train_matches_python(spark, docs, docs_df):
    """Round-10 (VERDICT r9 ask #2): tokenizer TRAINING certified on
    UTF-8, not just encode — the learned merge SEQUENCE (count-desc /
    pair-asc argmax per step, where pair-asc is Spark's UTF-8 binary
    order == Python's code-point order) replays exactly, sequential and
    batched."""
    from assignment_etl_spark.ext.bpe import train_bpe

    want = O.bpe_train(docs, 24)
    got_seq = [(s, l, r, int(c)) for s, l, r, c in train_bpe(docs_df, n_merges=24)]
    assert got_seq == want
    got_batched = [
        (s, l, r, int(c))
        for s, l, r, c in train_bpe(docs_df, n_merges=24, batch_k=4)
    ]
    assert got_batched == want


def test_wordpiece_train_matches_python(spark, docs, docs_df):
    """WordPiece training on UTF-8: the likelihood argmax is one IEEE
    double division of exact longs, so scores — and the heavy
    score==1.0 tie class this fixture produces, broken by code-point
    pair order — replay bit-for-bit."""
    from assignment_etl_spark.ext.bpe import train_wordpiece

    want = O.wordpiece_train(docs, 16)
    got = [
        (s, l, r, int(c), float(sc))
        for s, l, r, c, sc in train_wordpiece(docs_df, n_merges=16)
    ]
    assert got == want


def test_unigram_vocab_check_rows(docs):
    """The manifest's unigram_vocab rows ARE the trained (piece, lp)
    table the engine-parity test above certifies — pin the shape."""
    rows = O.checks(docs)["unigram_vocab"]
    assert len(rows) > 100 and all(len(r) == 2 for r in rows)
    assert any(not p.isascii() for p, _lp in rows)


def test_c4_line_filter_matches_python(spark, docs, docs_df):
    from assignment_etl_spark.ext.text import c4_line_filter

    got = {
        r.doc_id: (r.doc_id, r.text, r.n_lines, r.n_kept, r.page_kept, r.drop_reason)
        for r in c4_line_filter(docs_df).collect()
    }
    for row in O.c4_flags(docs):
        assert got[row[0]] == row, f"c4 mismatch doc {row[0]}"


def test_gopher_flags_match_python(spark, docs, docs_df):
    from assignment_etl_spark.ext.text import gopher_flags

    got = {
        r.doc_id: (
            r.doc_id,
            r.g.n_words,
            r.g.mean_word_len,
            r.g.symbol_ratio,
            r.g.bullet_frac,
            r.g.ellipsis_frac,
            r.g.dup_line_frac,
            r.g.passes,
        )
        for r in docs_df.select(
            "doc_id", gopher_flags(F.col("text")).alias("g")
        ).collect()
    }
    for row in O.gopher_rows(docs):
        assert got[row[0]] == row, f"gopher mismatch doc {row[0]}"


def test_repetition_signals_match_python(spark, docs, docs_df):
    from assignment_etl_spark.ext.repetition import repetition_signals

    cols = (
        ["doc_id"]
        + [f"top_{n}gram_char_frac" for n in (2, 3, 4)]
        + [f"dup_{n}gram_char_frac" for n in (5, 6, 7, 8, 9, 10)]
        + ["repetitive"]
    )
    got = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in repetition_signals(docs_df).collect()
    }
    for row in O.repetition_rows(docs):
        assert got[row[0]] == row, f"repetition mismatch doc {row[0]}"


@pytest.fixture(scope="module")
def pii_docs():
    return O.load_pii_fixture()


@pytest.fixture(scope="module")
def pii_df(spark, pii_docs):
    return spark.createDataFrame(pii_docs, "doc_id long, text string").persist()


def test_pii_detect_and_scrub_match_python(spark, pii_docs, pii_df):
    """Round-11 (VERDICT r10 ask #5): PII regexes certified on UTF-8.
    The fixture embeds the Java-vs-CPython traps: Arabic-Indic digits
    (Java \\d is ASCII-only — doc 3 is NOT an IP), non-ASCII letters at
    \\b seams (Java's \\b is UNICODE-aware even though its \\w is
    ASCII — é and Arabic letters are word chars, so doc 2's glued IP
    does NOT match; CPython's re.ASCII \\b would say it does), and the
    chained-scrub order dependence (doc 8's IP only becomes matchable
    AFTER the email is replaced)."""
    from assignment_etl_spark.ext.text import pii_counts, scrub_pii

    got = {
        r.doc_id: (r.doc_id, r.c.email, r.c.ipv4, r.scrubbed)
        for r in pii_df.select(
            "doc_id",
            pii_counts(F.col("text")).alias("c"),
            scrub_pii(F.col("text")).alias("scrubbed"),
        ).collect()
    }
    for row in O.pii_rows(pii_docs):
        assert got[row[0]] == row, f"pii mismatch doc {row[0]}"
    # the traps actually fired
    assert got[3][2] == 0              # Arabic-Indic digits: not \d
    assert got[2][2] == 0              # é is a word char to Java's \b
    assert got[9][2] == 1              # U+3000 IS a boundary
    assert got[8][2] == 0 and got[8][3].count("[PII]") == 2


def test_langid_matches_python(spark, docs, docs_df):
    """Language-ID heuristic certified on UTF-8: ASCII-only (?i)
    folding and ASCII \\b (Java) replicated by the oracle's re.ASCII;
    Han-script override; dict-order tie-break."""
    from assignment_etl_spark.ext.text import detect_language, lang_scores

    got = {}
    for r in docs_df.select(
        "doc_id",
        lang_scores(F.col("text")).alias("ev"),
        detect_language(F.col("text")).alias("lang"),
    ).collect():
        ev = [(s.lang, s.hits) for s in r.ev]
        got[r.doc_id] = (r.doc_id, json.dumps(ev), r.lang)
    for row in O.langid_rows(docs):
        assert got[row[0]] == row, f"langid mismatch doc {row[0]}"
    assert any(v[2] == "zh" for v in got.values())
    assert any(v[2] == "und" for v in got.values())


def test_lexdiv_matches_python(spark, docs, docs_df):
    """Lexical diversity certified on UTF-8: ASCII \\s tokenization
    (U+3000 ideographic space does NOT split), Java lower(), HALF_UP
    round-6 TTR."""
    from assignment_etl_spark.ext.lexdiv import lexical_diversity

    got = {
        r.doc_id: (r.doc_id, r.n_tokens, r.n_types, r.ttr)
        for r in lexical_diversity(docs_df).collect()
    }
    for row in O.lexdiv_rows(docs):
        assert got[row[0]] == row, f"lexdiv mismatch doc {row[0]}"
    # the ideographic-space docs keep U+3000-joined words GLUED: the
    # engine's ASCII-\s token count equals a pure-ASCII whitespace
    # split and is strictly below Python's Unicode-whitespace split
    # (which treats U+3000 as a separator)
    by_id = dict(docs)
    ideo = [i for i, t in docs if "　" in t.strip("　")]
    assert ideo, "fixture lost its interior-ideographic-space doc"
    for i in ideo:
        t = by_id[i]
        ascii_tokens = [w for w in re.split(r"[ \t\n\x0b\f\r]+", t) if w]
        assert got[i][1] == len(ascii_tokens), f"doc {i} not glued"
        assert got[i][1] < len(t.split()), f"doc {i}: U+3000 split tokens"


def test_streaming_quality_replay_matches_python(spark, docs, tmp_path):
    """r12 streaming slice (VERDICT r11 ask #6): replay the UTF-8
    corpus through stream_clean_with_quality in >= 5 micro-batches
    (one jsonl file per trigger) and require the dual-output quality
    record — c4 page verdicts + gopher flags — row-identical to the
    batch-derived CPython oracle. The filters are stateless per doc,
    so any batch-boundary leakage (state bleed, re-tokenization drift,
    lost/duplicated docs across foreachBatch epochs) breaks the match."""
    import json as _json

    from assignment_etl_spark.ext.streaming import stream_clean_with_quality
    from assignment_etl_spark.ext.text import c4_line_filter, gopher_flags

    src = tmp_path / "stream_src"
    src.mkdir()
    n_files = 5
    for part in range(n_files):
        with open(src / f"part{part}.jsonl", "w", encoding="utf-8") as fh:
            for i, t in docs[part::n_files]:
                fh.write(_json.dumps({"doc_id": i, "text": t}) + "\n")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )

    def clean_fn(batch_df):
        c4 = c4_line_filter(batch_df)
        g = batch_df.select(
            "doc_id", gopher_flags(F.col("text")).alias("q")
        )
        logs = c4.join(g, "doc_id").select(
            "doc_id",
            "page_kept",
            "drop_reason",
            F.col("q.passes").alias("gopher_passes"),
            F.col("q.n_words").alias("n_words"),
        )
        clean = c4.filter("page_kept").select("doc_id", "text")
        return clean, logs

    q = stream_clean_with_quality(
        stream,
        clean_fn,
        clean_path=str(tmp_path / "clean"),
        logs_path=str(tmp_path / "logs"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= n_files, "replay must be multi-batch"

    got = {
        r.doc_id: (
            r.doc_id,
            r.page_kept,
            r.drop_reason,
            r.gopher_passes,
            r.n_words,
        )
        for r in spark.read.parquet(str(tmp_path / "logs")).collect()
    }
    exp = O.streaming_quality_rows(docs)
    assert len(got) == len(exp) == len(docs)
    for row in exp:
        assert got[row[0]] == row, f"streaming quality mismatch doc {row[0]}"
    # the committed manifest hash pins this check end-to-end
    committed = json.load(open("/root/repo/GATES_UTF8.json"))
    assert (
        O.canon_hash(sorted(got.values())) ==
        committed["checks"]["streaming_quality_replay"]["hash"]
    )
    # the clean sink holds exactly the c4-kept pages
    kept = sorted(
        r.doc_id for r in spark.read.parquet(str(tmp_path / "clean")).collect()
    )
    assert kept == sorted(i for i, _pk, *_rest in exp if _pk)


def test_streaming_hll_registers_match_batch_and_python(spark, docs, tmp_path):
    """r12 stateful streaming slice: HLL registers over the UTF-8 token
    stream must be identical three ways — (1) the streaming max-merge
    sink (stream_hll_sink, >= 5 micro-batches), (2) the one-shot batch
    sketch, (3) the CPython oracle replay of the portable hash chain.
    (1)==(2) proves the sink's claim that max-merge converges to the
    batch sketch bit-for-bit regardless of batch boundaries; (2)==(3)
    certifies portable_str_hash's code-point semantics on non-ASCII
    text (probed: Spark's ascii(substring(..)) returns full code points
    for BMP AND astral chars, matching CPython ord)."""
    import json as _json

    from assignment_etl_spark.ext.sketch import hll_sketch, portable_str_hash
    from assignment_etl_spark.ext.streaming import stream_hll_sink

    src = tmp_path / "hll_src"
    src.mkdir()
    n_files = 5
    for part in range(n_files):
        with open(src / f"part{part}.jsonl", "w", encoding="utf-8") as fh:
            for i, t in docs[part::n_files]:
                fh.write(_json.dumps({"doc_id": i, "text": t}) + "\n")

    def tokens(df):
        words = F.filter(F.split(F.col("text"), " "), lambda w: F.length(w) > 0)
        return df.select(F.explode(words).alias("token")).select(
            portable_str_hash(F.col("token")).alias("token_h")
        )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = stream_hll_sink(
        tokens(stream),
        col="token_h",
        path=str(tmp_path / "regs"),
        checkpoint=str(tmp_path / "ckpt"),
        p=10,
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= n_files, "replay must be multi-batch"

    streamed = sorted(
        (r.idx, r.rho)
        for r in spark.read.parquet(str(tmp_path / "regs")).collect()
    )
    batch_df = spark.createDataFrame(docs, "doc_id long, text string")
    one_shot = sorted(
        (r.idx, r.rho) for r in hll_sketch(tokens(batch_df), "token_h", p=10).collect()
    )
    oracle = O.hll_token_registers(docs)
    assert streamed == one_shot, "streaming max-merge diverged from batch sketch"
    assert one_shot == oracle, "engine registers diverged from CPython oracle"
    committed = json.load(open("/root/repo/GATES_UTF8.json"))
    assert (
        O.canon_hash(oracle)
        == committed["checks"]["streaming_hll_token_registers"]["hash"]
    )
