"""Materialize an amplified scale-factor directory from sf0.1 — the local
stand-in for driver-generated sf1 data (the harness only ships sf ≤ 0.1).

Usage: python tools/make_scale_data.py <factor> <out_dir>
       python tools/make_scale_data.py 10 /tmp/sf1_synth

Amplification = ``factor`` logical copies with DISJOINT key spaces, keys
re-based consistently across fact/dim tables so every join keeps its
selectivity. Content transforms keep per-copy distributions identical
while preventing cross-copy artifacts that plain duplication would cause:

- documents.text goes through a per-copy BIJECTIVE letter substitution
  (an affine cipher x → a·x + k mod 26 keyed by rep, composed with a
  σ^(rep//312) scrambler beyond the affine group's 312 maps; rep 0 =
  identity, rep < 26 = the pure rotations of the original generator,
  distinct map per rep to factor 4056 — asserted by enumeration): within a copy, duplicate /
  near-duplicate structure is preserved exactly (dedup workloads see the
  realistic rate), but across copies shingles share nothing — a 10×
  corpus of DISTINCT documents, not ten clones of the same corpus, which
  would quadratically explode LSH candidate pairs.
- embeddings get a deterministic per-copy component perturbation, so ANN
  cell populations grow 10× without 10 exact copies of every vector
  collapsing into zero-distance clusters.
- events keep their timestamps (scale-up = more users in the same time
  window, which is how event densities actually grow).

region/nation are fixed-size dims and copy through unchanged.
"""

from __future__ import annotations

import os
import string
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from assignment_etl_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
# Per-copy key offset, beyond any fixture id arithmetic. NOT a round
# power of ten: 10^8 is ≡ 0 modulo every small power-of-ten modulus, so
# any workload that keys on a low-order slice of the id (the last-6-
# digit name suffix fuzzy linkage blocks on, the key % 1000 geo
# lattice) saw all `factor` copies of a row land on the SAME key slice
# — the fourth instance of the copy-wrap bug class (rot cipher,
# rep % 13 embeddings, verbatim names, and now offset divisibility).
# Coprimality alone is not enough either: with OFF ≡ 7 (mod 10^6) the
# copies of a base key (which spans only ~15k values) shifted by just
# 7·rep — the suffix space stayed ~15k values deep and blocks still
# held ~factor rows (measured: fuzzy linkage still 48× super-linear).
# The offset's LOW-ORDER residue must itself be large and coprime so
# rep-shifts stride across the whole slice space: 100123457 ≡ 123457
# (mod 10^6), odd, not divisible by 5.
OFF = 100_123_457

# Declarative amplification map, shared by ``amplify`` and the generic
# distributional property test (tests/test_make_scale_data.py): every
# key column that gets rebased, and every content column that must be
# per-copy DISTINCT. Four amplifier bugs (rot-cipher wrap, rep % 13
# embedding wrap, verbatim names, OFF ≡ 0/≈0 mod 10^k) were each found
# by a different downstream operator's anomalous scale curve; the test
# asserts the one invariant behind all four over the generated output
# itself, so a reintroduction fails in CI instead of in a sweep.
REBASED_KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
CONTENT_COLS = {
    "customer": ["c_name"],
    "documents": ["text"],
    "embeddings": ["embedding"],
}


def stride_cluster_allowance(
    factor: int, span: int, mod: int = 1_000_000
) -> int:
    """Exact arithmetic-progression clustering the rebase stride implies
    for a base key range of width ``span``: the number of rep lags
    d < factor whose slice shift min(d·OFF mod m, m − d·OFF mod m) fits
    inside the span — each such lag can stack one more distinct key on a
    mod-m slice (three-distance clustering; OFF·81 ≡ 17 (mod 10^6), so
    lags 81k land 17k apart and a span-W base admits ~W/17 of them,
    capped by factor/81). The distributional property test adds this to
    its birthday bound: without it, factor 1000 over sf0.001's ~150-wide
    customer keys flags a healthy 9-deep slice (1 + 8 lags — measured
    and predicted EXACTLY) as a wrap. A wrapped/nudged OFF pushes this
    number toward ``factor`` itself, which the test's occupancy check
    and the factor/10 cap both reject."""
    out = 0
    for d in range(1, factor):
        s = (d * OFF) % mod
        if min(s, mod - s) <= span:
            out += 1
    return out


def _rep(df, factor):
    return df.withColumn(
        "_rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
    )


def _rebase(df, cols):
    for c in cols:
        # widen BEFORE multiplying: _rep (int) × OFF (int literal) wraps
        # in int32 at rep ≥ 22 with ANSI off — factor-100 amplification
        # silently produced NEGATIVE ids (caught at sf10: vec_id < 8
        # matched 84,008 rows and turned the IVF gate into a 16.8B-pair
        # cross product)
        df = df.withColumn(
            c, F.col(c) + F.col("_rep").cast("long") * F.lit(OFF)
        )
    return df


# the 12 units of Z/26 — multipliers of the affine letter cipher below
_AFFINE_UNITS = (1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

# Stage-3 scrambler for factor > 312: the affine group over Z/26 has
# only 312 elements, so reps beyond 312 would WRAP onto earlier cipher
# maps (the fifth instance of the copy-wrap bug class). σ is a fixed
# non-affine permutation (qwerty order — an affine map has ≤ 2 fixed
# points unless it is the identity, σ visibly is neither); copies get
# σ^(rep // 312) composed on their affine map. Distinct powers of σ
# lie in distinct affine cosets, which `_sub_text` verifies by DIRECT
# ENUMERATION of every composed alphabet rather than by group theory.
_SIGMA = "qwertyuiopasdfghjklzxcvbnm"


def _sigma_pow(j: int) -> str:
    """Alphabet string of σ^j (σ = qwerty permutation), σ^0 = a..z."""
    out = string.ascii_lowercase
    for _ in range(j):
        out = "".join(_SIGMA[ord(c) - 97] for c in out)
    return out


def _composed_alphabet(rep: int) -> str:
    """Full per-copy substitution alphabet: σ^(rep//312) ∘ affine(rep).
    The ground truth the staged translate pipeline must reproduce."""
    s = _sigma_pow(rep // 312)
    return "".join(s[ord(c) - 97] for c in _affine_alphabet(rep))


def _affine_alphabet(rep: int) -> str:
    """Target alphabet of the per-copy substitution: the affine map
    x -> a·x + k (mod 26) with k = rep % 26 and a = UNITS[rep // 26].
    Affine maps over Z/26 are bijections, and distinct (a, k) pairs are
    distinct maps, so every rep < 26·12 = 312 gets its OWN substitution.
    rep < 26 keeps a = 1 (pure rotation) — bit-identical corpora to the
    old rot-only generator for factor ≤ 26."""
    az = string.ascii_lowercase
    k, a = rep % 26, _AFFINE_UNITS[(rep // 26) % len(_AFFINE_UNITS)]
    return "".join(az[(a * x + k) % 26] for x in range(26))


def _sub_text(df, text_col, rep_col, factor):
    """Per-copy BIJECTIVE letter substitution, applied in TWO translate
    stages so the plan stays O(1) in ``factor`` (ADVICE r9: the previous
    factor-deep CASE WHEN chain made every row walk an O(factor)
    conditional and the expression tree grew with the factor — 311
    translate branches at the max). The affine map a·x + k factors as
    rotation∘multiplication, so stage 1 picks the multiplier alphabet
    (≤ 12 branches, keyed by rep // 26) into a temp column and stage 2
    rotates it (≤ 26 branches, keyed by rep % 26): ≤ 38 translate nodes
    total, per-row work bounded by 38 condition tests, output strings
    IDENTICAL to the single-stage form.

    History: the original rotated by rep % 26, which WRAPS at
    factor > 26 — at factor 100 every rotation class had ~4 member
    copies whose texts were EXACT cross-copy duplicates (74.0% dup
    surplus at sf10, SCALE.md round-9). Affine maps keep the
    "across copies shingles share nothing" contract to factor 312.

    Factor > 312 (r12, the sf100 sweep needs factor 1000): a THIRD
    translate stage composes σ^(rep // 312) on the affine output
    (≤ ceil(factor/312) branches, keyed modularly like the others);
    reps < 312 hit the identity branch, so every factor ≤ 312 corpus
    is bit-identical to the two-stage generator. Distinctness of ALL
    ``factor`` composed maps is asserted by enumerating the alphabets
    (no wrap regression can slip through a group-theory argument)."""
    n_sigma = -(-factor // 312)
    assert factor <= 312 * 13, (
        f"substitution pipeline supports factor <= {312 * 13}"
    )
    assert (
        len({_composed_alphabet(r) for r in range(factor)}) == factor
    ), "composed substitution alphabets wrap before `factor`"
    az = string.ascii_lowercase
    n_units = min(len(_AFFINE_UNITS), -(-factor // 26))
    mult = F.translate(F.col(text_col), az, _affine_alphabet(0))  # a=1
    for ui in range(1, n_units):
        mult = F.when(
            (F.floor(rep_col / F.lit(26)) % 12).cast("int") == ui,
            F.translate(F.col(text_col), az, _affine_alphabet(26 * ui)),
        ).otherwise(mult)
    rot = F.col("_t1")  # k=0 identity
    for k in range(1, min(26, factor)):
        rot = F.when(
            rep_col % 26 == k,
            F.translate(F.col("_t1"), az, _affine_alphabet(k)),
        ).otherwise(rot)
    if n_sigma == 1:
        return df.withColumn("_t1", mult).withColumn(text_col, rot).drop("_t1")
    scr = F.col("_t2")  # rep // 312 == 0: identity
    for j in range(1, n_sigma):
        scr = F.when(
            F.floor(rep_col / F.lit(312)).cast("int") == j,
            F.translate(F.col("_t2"), az, _sigma_pow(j)),
        ).otherwise(scr)
    return (
        df.withColumn("_t1", mult)
        .withColumn("_t2", rot)
        .withColumn(text_col, scr)
        .drop("_t1", "_t2")
    )


def _emb_perturb(rep_col, x, i):
    """Per-copy embedding perturbation, keyed by the FULL rep (ADVICE
    r9: the previous ``rep % 13`` coefficient wrapped at factor > 13 —
    ~8 exact duplicate copies per vector at factor 100, the embedding
    twin of the text cipher wrap). Two independent basis patterns
    ((i%7)-3 and (i%5)-2, linearly independent over dim ≥ 8) keyed by
    (rep % 13, rep // 13) make the map rep → offset vector injective
    for EVERY rep (the pair (rep % 13, rep // 13) is unique per rep,
    no 312 cap here — verified to factor 1000 by the r12 property run)
    while the magnitude stays inside the old envelope (0.03/component
    at rep 999); reps < 13 add an exact 0.0 second term, so factor
    ≤ 13 corpora are value-identical to the old generator."""
    return (
        x
        + (rep_col % 13).cast("float")
        * F.lit(0.003)
        * ((i % 7) - 3).cast("float")
        + F.floor(rep_col / F.lit(13)).cast("float")
        * F.lit(0.0004)
        * ((i % 5) - 2).cast("float")
    )


def amplify(spark, factor: int, out: str, src: str = SRC) -> None:
    """Write the factor-amplified copy of every table in ``src`` to
    ``out`` (the body of the CLI, callable from tests on a small SF)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def t(name):
        df = spark.read.parquet(f"{src}/{name}.parquet")
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # the sf0.1 source tables are single parquet files, so without
        # this the factor-F explode runs in ONE task (measured at
        # factor 1000: lineitem = 600M rows through a single shuffle
        # writer — the whole generation serialized on it). Spreading
        # the small source first makes the explode embarrassingly
        # parallel; content is unaffected.
        if factor > 16:
            df = df.repartition(32)
        return df

    def w(df, name, parts=8):
        # scale file count with the amplification so sf100 tables land
        # near the ~128 MB/file sweet spot instead of 16 multi-GB files
        # (factor <= 16 keeps the historical layout byte-comparable)
        parts = min(256, parts * max(1, factor // 16))
        df.repartition(parts).write.mode("overwrite").parquet(
            f"{out}/{name}.parquet"
        )
        print(f"{name}: {spark.read.parquet(f'{out}/{name}.parquet').count()} rows")

    for name in ("region", "nation"):
        w(t(name), name, parts=1)

    cust = _rebase(_rep(t("customer"), factor), REBASED_KEYS["customer"])
    # names must track the rebased key: the source carries
    # 'Customer#<9-digit key>' and copies previously kept the ORIGINAL
    # name, so a factor-F corpus held F exact copies of every name —
    # turning any name-keyed blocking into F x F hot blocks (the
    # fuzzy-linkage sweep measured 54x super-linear at factor 100; the
    # same wrap class as the rot cipher and the rep % 13 embedding
    # coefficient). rep 0 keeps the original name bit-identical; copies
    # derive theirs from the rebased key (12-digit pad: rebased keys
    # exceed 9 digits, and lpad TRUNCATES over-width inputs).
    cust = cust.withColumn(
        "c_name",
        F.when(F.col("_rep") == 0, F.col("c_name")).otherwise(
            F.concat(
                F.lit("Customer#"),
                F.lpad(F.col("c_custkey").cast("string"), 12, "0"),
            )
        ),
    )
    w(cust.drop("_rep"), "customer")
    for name in ("supplier", "part", "orders"):
        w(_rebase(_rep(t(name), factor), REBASED_KEYS[name]).drop("_rep"), name)
    for name in ("lineitem", "events"):
        w(
            _rebase(_rep(t(name), factor), REBASED_KEYS[name]).drop("_rep"),
            name,
            parts=16,
        )

    docs = _rebase(_rep(t("documents"), factor), REBASED_KEYS["documents"])
    docs = _sub_text(docs, "text", F.col("_rep"), factor)
    w(docs.drop("_rep"), "documents")

    emb = _rebase(_rep(t("embeddings"), factor), REBASED_KEYS["embeddings"])
    emb = emb.withColumn(
        "embedding",
        F.transform(
            "embedding", lambda x, i: _emb_perturb(F.col("_rep"), x, i)
        ),
    )
    w(emb.drop("_rep"), "embeddings")
    print(f"done: {out} at factor {factor}")


def main() -> int:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1_synth"
    spark = get_spark("make-scale-data")
    spark.sparkContext.setLogLevel("ERROR")
    amplify(spark, factor, out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
