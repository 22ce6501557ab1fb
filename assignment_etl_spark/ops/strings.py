"""String normalization: column-name cleanup (P1) and NFKC+lowercase (F3).

F3 (reference clean_utf8, /root/reference/etl.py:190-198) re-encodes UTF-8
with replacement, NFKC-normalizes, lowercases — applied to *every* string
cell of every table (etl.py:676,509,684,690,695), so IDs and codes end
lowercase; downstream enum validation depends on it (etl.py:577). The engine
keeps one late ``normalize_strings`` pass per pipeline for the same
order-of-operations (SURVEY §7.4.6).

Scale note: F3 runs in the executor JVM, with no Python worker and no Arrow
batch. NFKC has no Catalyst builtin, but Spark bundles ICU4J, and one
``reflect`` call reaches its static ``Normalizer.compose(s, true)``; the
lowercase is the native ``lower``. ``reflect`` is nondeterministic and not
code-generated: it runs interpreted in its own Project and no filter is
pushed below it, so F3 stays the last projection of each output.
Invalid-byte replacement is a no-op for data Spark already decoded.

Known difference: the bundled ICU4J (77.1) implements Unicode 16.0, while
CPython 3.11's ``unicodedata`` (so ``nfkc_lower_py`` and the reference)
implements Unicode 14.0. Over all 1,112,064 non-surrogate code points the
two differ on exactly 125, every one unassigned in Unicode 14.0: U+1C89,
U+A7CB, U+A7CC, U+A7DA, U+A7DC, U+10D50..U+10D65, U+1CCD6..U+1CCF9 and
U+1E030..U+1E06D. ICU lowercases or decomposes them; CPython leaves them
unchanged. They are not special-cased. No assigned code point differs.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def normalize_column_names(df: DataFrame) -> DataFrame:
    """P1: strip, drop BOM, internal spaces→_, lowercase (etl.py:202-215).
    Driver-side metadata op — free."""
    new = [
        re.sub(" +", "_", c.replace("﻿", "").strip()).lower() for c in df.columns
    ]
    return df.toDF(*new)


def nfkc_lower(col: Column) -> Column:
    """F3 on one column: ICU's static ``Normalizer.compose(s, true)`` is
    NFKC. ICU throws on NULL, so the guard is required; ``try_reflect``
    would also hide real errors."""
    return F.when(col.isNotNull(), F.lower(F.reflect(
        F.lit("com.ibm.icu.text.Normalizer"), F.lit("compose"), col, F.lit(True)
    )))


def normalize_strings(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """F3 applied to all (or the given) string columns; non-strings untouched."""
    if columns is None:
        columns = [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    return df.withColumns({c: nfkc_lower(F.col(c)) for c in columns})


def nfkc_lower_py(s: str | None) -> str | None:
    """Driver-side scalar twin of F3, for tests and tiny metadata."""
    if s is None:
        return None
    return unicodedata.normalize("NFKC", s).lower()
