"""Property tests (SURVEY §5.4.3): the scalar library is total over
arbitrary strings, dedup is idempotent, normalization is idempotent.

Hypothesis generates the inputs; each property runs as ONE Spark job over
the whole generated batch (not one job per example) to keep the suite fast.
"""

import math

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from assignment_etl_spark.ext.text import quality_score, whitespace_token_count
from assignment_etl_spark.ops.dedup import mark_duplicates
from assignment_etl_spark.ops.strings import nfkc_lower_py
from assignment_etl_spark.ops.units import with_height_cm, with_weight_struct
from assignment_etl_spark.schemas import ROW_ID

TEXTY = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=40
)


@settings(max_examples=1, deadline=None)
@given(st.lists(TEXTY, min_size=80, max_size=120))
def test_height_total_never_throws(spark, values):
    """F1 is total: any junk string → double or NULL, never an error
    (the reference crashes on e.g. '..' — documented deviation)."""
    df = spark.createDataFrame([(v,) for v in values], "height string")
    rows = with_height_cm(df, out="cm").select("cm").collect()
    assert len(rows) == len(values)
    for r in rows:
        assert r.cm is None or isinstance(r.cm, float)


@settings(max_examples=1, deadline=None)
@given(
    st.lists(
        st.tuples(TEXTY, st.one_of(st.none(), st.floats(50, 250))),
        min_size=80,
        max_size=120,
    )
)
def test_weight_struct_invariants(spark, pairs):
    """F2 invariants: always a reason; flagged=False only for explicit
    plausible units; assumed_* implies BMI in [10, 45]."""
    df = spark.createDataFrame(
        [(w, h) for w, h in pairs], "weight string, height_cm double"
    )
    rows = with_weight_struct(df, out="w").select("height_cm", "w").collect()
    for r in rows:
        assert r.w.reason is not None
        if not r.w.flagged:
            assert r.w.reason == "ok"
        if r.w.reason in ("missing_unit_assumed_kg", "missing_unit_assumed_lb"):
            bmi = r.w.weight_kg / (r.height_cm / 100.0) ** 2
            assert 10.0 <= bmi <= 45.0 or not math.isfinite(bmi)


@settings(max_examples=1, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 9), TEXTY), min_size=30, max_size=60))
def test_keep_first_idempotent(spark, rows):
    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)],
        f"{ROW_ID} long, key int, val string",
    )

    def keep_first(frame):
        marked = mark_duplicates(frame, ["key"])
        return marked.filter(F.col("_rn") == 1).drop("_rn", "_grp")

    once = keep_first(df)
    twice = keep_first(once)
    a = sorted((r.key, r.val) for r in once.collect())
    b = sorted((r.key, r.val) for r in twice.collect())
    assert a == b
    assert len(a) == len({k for k, _ in [(r[0], 0) for r in a]})


@settings(max_examples=50, deadline=None)
@given(TEXTY)
def test_nfkc_lower_idempotent_py(s):
    once = nfkc_lower_py(s)
    assert nfkc_lower_py(once) == once


@settings(max_examples=1, deadline=None)
@given(st.lists(TEXTY, min_size=50, max_size=80))
def test_text_metrics_bounded(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "text string")
    rows = df.select(
        whitespace_token_count(F.col("text")).alias("t"),
        quality_score(F.col("text")).alias("q"),
    ).collect()
    for r in rows:
        assert r.t >= 0
        assert r.q is None or 0.0 <= r.q <= 1.0


@settings(max_examples=1, deadline=None)
@given(st.lists(TEXTY, min_size=40, max_size=60))
def test_portable_minhash_matches_python_model(spark, values):
    """The minhash signature (JVM normalization + numpy UDF) must equal
    an independent pure-Python model of the same math on arbitrary text —
    the cross-engine-exactness claim the DuckDB oracle relies on."""
    from assignment_etl_spark.ext.dedup import (
        PORTABLE_P,
        minhash_signature,
        portable_perm_params,
    )

    n, num_hashes, seed = 5, 8, 7
    params = portable_perm_params(num_hashes, seed)

    def model(text: str) -> list[int]:
        # normalize exactly like the operator: lower + collapse whitespace
        import re as _re

        s = _re.sub(r"\s+", " ", text.lower())
        if len(s) < n:
            s = s + " " * (n - len(s))
        grams = []
        seen = set()
        for i in range(len(s) - n + 1):
            acc = 0
            for ch in s[i : i + n]:
                acc = (acc * 31 + ord(ch)) % PORTABLE_P
            if acc not in seen:
                seen.add(acc)
                grams.append(acc)
        return [min((a * g + b) % PORTABLE_P for g in grams) for a, b in params]

    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i long, t string")
    got = {
        r.i: list(r.sig)
        for r in df.select(
            "i", minhash_signature(F.col("t"), num_hashes, n, seed).alias("sig")
        ).collect()
    }
    for i, v in enumerate(values):
        assert got[i] == model(v), f"mismatch for {v!r}"


WORDS = st.lists(
    st.text(alphabet="abcde", min_size=1, max_size=4), min_size=8, max_size=40
)


@settings(max_examples=4, deadline=None)
@given(st.lists(WORDS, min_size=2, max_size=5))
def test_batched_bpe_equals_sequential(spark, docs_words):
    """For arbitrary small corpora, the prefix-batched merge selection
    must return the EXACT sequential merge list — the property the
    cumulative-bound proof claims for all inputs, not just the gate's."""
    from assignment_etl_spark.ext.bpe import train_bpe

    docs = spark.createDataFrame(
        [(" ".join(ws),) for ws in docs_words], "text string"
    )
    seq = train_bpe(docs, n_merges=6, batch_k=1)
    bat = train_bpe(docs, n_merges=6, batch_k=4)
    assert bat == seq


@settings(max_examples=2, deadline=None)
@given(st.lists(st.text(alphabet="abcdef ", min_size=0, max_size=30),
                min_size=4, max_size=10))
def test_nb_score_concat_additivity(spark, texts):
    """NB scoring is a decimal sum of per-token bucket weights, so the
    score of a concatenation equals the sum of the parts' scores (up to
    the final rounding): score(a + ' ' + b) = score(a) + score(b)."""
    from assignment_etl_spark.ext.textclf import (
        score_documents_nb,
        train_nb_classifier,
    )

    labeled = spark.createDataFrame(
        [(i, t, i % 2 == 0) for i, t in enumerate(texts)],
        "doc_id long, text string, y boolean",
    )
    w = train_nb_classifier(labeled, label_col="y", n_buckets=64)
    a, b = texts[0], texts[1]
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, f"{a} {b}")], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.score
        for r in score_documents_nb(docs, w, n_buckets=64, round_to=9).collect()
    }
    pa, pb, pc = got[1], got[2], got[3]
    if pc is None:
        assert pa is None and pb is None
    else:
        assert abs(((pa or 0.0) + (pb or 0.0)) - pc) < 1e-6
