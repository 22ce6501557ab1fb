"""Code-mapping and enum-validation operators.

F4: sex → ISO/IEC 5218 (reference map_sex_to_iso5218_with_log,
/root/reference/etl.py:312-367). P5: enum validation with "UNKNOWN" fill
(etl.py:577-588). F10: boolean coercion (etl.py:108-111).
All pure ``when``-chains; log keysets differ per branch exactly like the
reference (mapped_code for missing/invalid, cleaned_value for U → SURVEY §1.4).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from assignment_etl_spark.ops.quality import issue

ISO5218 = {"M": 1, "F": 2, "U": 0, "O": 9}


def sex_to_iso5218(col: Column) -> Column:
    """F4 value mapping: M→1 F→2 O→9 U→0, missing/unmapped→0."""
    s = F.upper(F.trim(col.cast("string")))
    return (
        F.when(col.isNull(), F.lit(0))
        .when(s == "M", F.lit(1))
        .when(s == "F", F.lit(2))
        .when(s == "O", F.lit(9))
        .otherwise(F.lit(0))  # U and any invalid token
        .cast("int")
    )


def sex_log_reason(col: Column) -> Column:
    """Reason for rows the reference logs (all rows that map to 0)."""
    s = F.upper(F.trim(col.cast("string")))
    return (
        F.when(col.isNull(), F.lit("missing_value"))
        .when(~s.isin(*ISO5218), F.lit("invalid_code"))
        .when(s == "U", F.lit("unknown_or_missing"))
    )


def sex_issue() -> Column:
    """F4's log entry: every row that maps to 0 (see sex_log_reason)."""
    reason = sex_log_reason(F.col("sex"))
    return issue(
        reason.isNotNull(),
        patient_id=F.col("patient_id"),
        filename="patients.csv",
        original_value=F.col("sex"),
        # reference quirk kept: missing/invalid branches write mapped_code,
        # the U branch writes cleaned_value (etl.py:333-363)
        mapped_code=F.when(reason.isin("missing_value", "invalid_code"), "0"),
        cleaned_value=F.when(reason == "unknown_or_missing", "0"),
        reason=reason,
    )


def enum_invalid(column: str, valid: list[str]) -> Column:
    """P5's condition. NULL values are 'not in' the valid set in pandas, so
    they count as invalid; Spark ~isin(NULL) is NULL, hence the guard."""
    col = F.col(column)
    return col.isNull() | ~col.isin(*valid)


def enum_issue(invalid: Column, column: str) -> Column:
    """P5's log entry; the filename is the row's raw ``source_file``."""
    return issue(
        invalid,
        patient_id=F.col("patient_id"),
        filename=F.col("source_file"),
        column_name=column,
        original_value=F.col(column),
        reason="invalid_" + column,
    )


def coerce_bool(col: Column) -> Column:
    """F10: lowercase-"true" → True, other non-null text → False, NULL → NULL."""
    return F.when(col.isNotNull(), F.lower(col.cast("string")) == "true")
