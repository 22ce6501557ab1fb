"""S1: clean CSV scan (header, optional BOM, padded cells).

Reference: ``pd.read_csv(path, encoding='utf-8-sig')`` at
/root/reference/etl.py:38. Spark's CSV reader strips a UTF-8 BOM from the
first header character; the engine normalizes header names anyway (P1) and
attaches the source-order row id required by the dedup contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from assignment_etl_spark.ops.dedup import with_row_id
from assignment_etl_spark.ops.strings import normalize_column_names


def read_csv(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Header CSV → normalized column names, every cell trimmed (F14, one
    projection), source-order ``_row_id``."""
    reader = spark.read.option("header", True).option("encoding", "UTF-8")
    df = reader.schema(schema).csv(path) if schema is not None else reader.csv(path)
    df = normalize_column_names(df)
    return with_row_id(df.withColumns({c: F.trim(F.col(c)) for c in df.columns}))
