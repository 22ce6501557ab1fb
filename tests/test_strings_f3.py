"""F3 (NFKC + lowercase) on the JVM against its Python twin.

``normalize_strings`` reaches ICU4J's NFKC through ``reflect``;
``nfkc_lower_py`` is ``unicodedata.normalize("NFKC", s).lower()``, the
reference's own definition. Each check runs as one Spark job over one
DataFrame of inputs and expected outputs, and collects only mismatches.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from assignment_etl_spark.ops.strings import nfkc_lower_py, normalize_strings

# Unassigned in Unicode 14.0, assigned by 16.0 (the bundled ICU4J's version);
# the ops/strings.py docstring documents them as the known difference.
POST_UNICODE_14 = [
    0x1C89, 0xA7CB, 0xA7CC, 0xA7DA, 0xA7DC,
    *range(0x10D50, 0x10D66), *range(0x1CCD6, 0x1CCFA), *range(0x1E030, 0x1E06E),
]


def _mismatches(spark, values: list[str]) -> list[tuple[str, str, str]]:
    """(input, engine output, Python output) for every value they differ on."""
    want = [nfkc_lower_py(v) for v in values]
    df = spark.createDataFrame(
        pd.DataFrame({"s": values, "raw": values, "want": want}),
        "s string, raw string, want string",
    )
    out = normalize_strings(df, ["s"])
    return [tuple(r) for r in out.filter(~F.col("s").eqNullSafe(F.col("want")))
            .select("raw", "s", "want").collect()]


def test_every_assigned_code_point_matches_python(spark):
    assigned = [
        chr(c) for c in range(0x110000)
        if unicodedata.category(chr(c)) not in ("Cn", "Cs")
    ]
    assert _mismatches(spark, assigned) == []


def test_documented_difference_is_unassigned_in_python(spark):
    assert len(POST_UNICODE_14) == 125
    chars = [chr(c) for c in POST_UNICODE_14]
    if unicodedata.unidata_version == "14.0.0":
        assert {unicodedata.category(ch) for ch in chars} == {"Cn"}
        # CPython leaves an unassigned code point unchanged; ICU does not
        assert [raw for raw, _, _ in _mismatches(spark, chars)] == chars


HARD = st.sampled_from(
    [chr(c) for c in range(0x300, 0x370)]  # combining diacritics
    + [chr(c) for c in (0x1100, 0x1161, 0x11A8, 0x1112, 0x1175, 0xAC00, 0xD7A3)]
    + ["Σ", "σ", "ς", "Ο", "Δ", "İ", "I", "ı", "i", "ẞ", "ß", "ǅ"]
    + ["\u2126", "\u212a", "ﬁ", "ﬀ", "ﬃ", "Ĳ", "㎏", "①", "²", "½", "™"]
    + ["ｶ", "ﾞ", "Ａ", "ｚ", "a", "E", "z", " ", "-", "'", "\u00a0", "\u200d", "\u3000"]
)
# the documented difference is pinned by the test above, not drawn here
MIXED = st.text(
    alphabet=st.one_of(HARD, st.characters(
        blacklist_categories=("Cs",),
        blacklist_characters=[chr(c) for c in POST_UNICODE_14],
    )),
    min_size=1,
    max_size=12,
)


@settings(max_examples=2, deadline=None)
@given(st.lists(st.text(alphabet=HARD, min_size=1, max_size=12) | MIXED,
                min_size=200, max_size=250))
def test_multi_character_strings_match_python(spark, values):
    """Composition across characters (combining sequences, conjoining
    Hangul jamo), context-dependent lowercasing (final sigma, dotted
    capital I) and compatibility forms (ligatures, full-width)."""
    assert _mismatches(spark, values) == []
