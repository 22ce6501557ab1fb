"""String normalization: column-name cleanup (P1), NFKC+lowercase (F3), trim.

F3 (reference clean_utf8, /root/reference/etl.py:190-198) re-encodes UTF-8
with replacement, NFKC-normalizes, lowercases — applied to *every* string
cell of every table (etl.py:676,509,684,690,695), so IDs and codes end
lowercase; downstream enum validation depends on it (etl.py:577). The engine
keeps one late ``normalize_strings`` pass per pipeline for the same
order-of-operations (SURVEY §7.4.6).

Scale note: lowercase is native; NFKC has no Catalyst builtin, so it rides an
Arrow-vectorized pandas_udf — the one sanctioned Python crossing (SURVEY
§2.10). ``nfkc=False`` keeps the whole pass in codegen when the data is known
ASCII. Invalid-byte replacement is a no-op for data Spark already decoded.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def normalize_column_names(df: DataFrame) -> DataFrame:
    """P1: strip, drop BOM, internal spaces→_, lowercase (etl.py:202-215).
    Driver-side metadata op — free."""
    new = [
        re.sub(" +", "_", c.replace("﻿", "").strip()).lower() for c in df.columns
    ]
    return df.toDF(*new)


@pandas_udf(T.StringType())
def _nfkc_lower(s: pd.Series) -> pd.Series:
    return s.str.normalize("NFKC").str.lower()


def nfkc_lower(col: Column, *, nfkc: bool = True) -> Column:
    return _nfkc_lower(col) if nfkc else F.lower(col)


def normalize_strings(
    df: DataFrame, columns: list[str] | None = None, *, nfkc: bool = True
) -> DataFrame:
    """F3 applied to all (or the given) string columns; non-strings untouched."""
    if columns is None:
        columns = [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    return df.withColumns({c: nfkc_lower(F.col(c), nfkc=nfkc) for c in columns})


def trim_strings(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """F14: whitespace strip over string columns (etl.py:84)."""
    if columns is None:
        columns = [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    out = df
    for c in columns:
        out = out.withColumn(c, F.trim(F.col(c)))
    return out


def nfkc_lower_py(s: str | None) -> str | None:
    """Driver-side scalar twin of F3, for tests and tiny metadata."""
    if s is None:
        return None
    return unicodedata.normalize("NFKC", s).lower()
