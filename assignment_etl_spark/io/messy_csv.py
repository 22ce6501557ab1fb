"""S2: the messy multi-delimiter CSV source, fully distributed.

Reference (read_messy_encounters, /root/reference/etl.py:42-86) streams the
file through a Python list: skip blank lines, skip repeated interior header
lines, per-line delimiter sniff (';' iff the line has ';' and no ','),
truncate rows with extra fields, pad short rows, fixed 6-column schema,
whole-frame whitespace strip.

Engine design (SURVEY §3.3): ``spark.read.text`` keeps it distributed; every
normalization decision is a narrow, partition-local column expression — no
collect, no Python loop, whole-stage codegen end to end. The per-line
delimiter choice is a ``when`` over ``contains``; pad/truncate is ``F.get``
(NULL past the end) over the split array.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from assignment_etl_spark.ops.dedup import with_row_id
from assignment_etl_spark.schemas import ROW_ID


def read_messy_csv(spark: SparkSession, path: str, columns: list[str]) -> DataFrame:
    """Parse a mixed-delimiter CSV into a fixed set of string columns.

    Any line that starts with the first column name (case-insensitive) is
    a repeated header and is skipped.
    """
    prefix = columns[0].lower()
    line = F.trim(F.col("value"))
    lines = (
        with_row_id(spark.read.text(path))
        .withColumn("value", line)
        .filter(F.length("value") > 0)
        .filter(~F.lower(F.col("value")).startswith(prefix))
    )
    delim_is_semi = F.col("value").contains(";") & ~F.col("value").contains(",")
    parts = F.when(delim_is_semi, F.split("value", ";")).otherwise(
        F.split("value", ",")
    )
    # stage the split array in its own projection: referenced by every
    # field extraction, it would otherwise be inlined (and the split regex
    # re-run) once per column — CollapseProject keeps non-cheap
    # multi-referenced aliases in their own Project
    split_once = lines.select(parts.alias("_parts"), F.col(ROW_ID))
    fields = [
        F.trim(F.get(F.col("_parts"), i)).alias(c) for i, c in enumerate(columns)
    ]
    return split_once.select(*fields, F.col(ROW_ID))
