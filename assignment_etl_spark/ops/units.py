"""Unit-normalization operators: height→cm and weight→kg (BMI-inferred units).

Re-expresses the reference's per-row Python (height_to_cm at
/root/reference/etl.py:146-183, weight_to_kg at etl.py:220-284,
normalize_weights at etl.py:287-308) as pure Catalyst expressions — no
Python in the hot path. Branch order is preserved exactly (SURVEY §2.5
F1/F2): the cm check precedes ft/in; the plausibility pass can override
explicit units.

Codegen note (the load-bearing design decision here): written as one
monolithic Column, these ~40-branch chains inline the regex/normalize
subtrees into every branch — the generated Java method passes 64 KB, janino
refuses, and Spark falls back to interpreted eval which re-evaluates each
regex per reference (~10× slower). F1 and F2 therefore exist only as
staged operators (``with_height_cm`` / ``with_weight_struct``, what the
patients pipeline runs): they compute the expensive primitives
(lowercase/trim, number extraction, BMI denominator) as named columns in a
*separate projection*; CollapseProject keeps the stages apart (non-cheap
aliases referenced more than once), each stage codegens small, and every
regex runs exactly once per row. HotSpot has a second, lower ceiling: it
never JIT-compiles a method over 8,000 bytecode bytes. The patients scan
stage as a whole still generates one 9,035-byte method (ROADMAP direction
2).

Verified goldens (SURVEY §5.3): "68 in"→172.72, "5ft 6in"→167.64,
"1.75"→175.0, "162"→162.0; ("300 kg", 220cm)→(300.0, implausible_bmi_62.0);
("54.5", 162cm)→(54.5, missing_unit_assumed_kg);
("150", 180cm)→(68.0388, missing_unit_assumed_lb).

Deviation from reference: strings whose first numeric token is not a valid
float (e.g. "..") crash the reference with ValueError/IndexError; the engine
yields NULL (height) / reason "no_numeric_found" (weight).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from assignment_etl_spark.ops.quality import issue

LB_TO_KG = 0.453592
FIRST_NUM = r"([\d.]+)"


# ------------------------------------------------------------------ height F1


def _height_decision(
    raw: Column, s: Column, first_num: Column, ft: Column, inches: Column
) -> Column:
    """The F1 branch chain over pre-computed primitives."""
    is_m = s.rlike(r"\b\d+(\.\d+)?\s*m\b") & ~s.contains("cm")
    is_cm = s.contains("cm")
    is_in = s.contains("in")
    is_bare = s.rlike(r"^[\d.]+$")
    return (
        F.when(raw.isNull(), F.lit(None).cast("double"))
        .when(is_m, first_num * 100.0)
        .when(is_cm, first_num)
        .when(ft.isNotNull(), ft * 30.48 + F.coalesce(inches, F.lit(0.0)) * 2.54)
        .when(is_in, first_num * 2.54)
        .when(is_bare & (first_num < 3.0), first_num * 100.0)
        .when(is_bare, first_num)
        .otherwise(F.lit(None).cast("double"))
    )


def _num(col: Column, pattern: str, group: int = 1) -> Column:
    return F.nullif(F.regexp_extract(col, pattern, group), F.lit("")).cast("double")


def with_height_cm(
    df: DataFrame, column: str = "height", out: str = "height_cm"
) -> DataFrame:
    """Staged F1: primitives projected once, decision chain over columns."""
    s = F.lower(F.trim(F.col(column).cast("string")))
    staged = df.withColumns(
        {
            "_h_s": s,
            "_h_num": _num(s, FIRST_NUM),
            "_h_ft": _num(s, r"^(\d+)\s*(?:ft|')"),
            "_h_in": _num(s, r"^(?:\d+)\s*(?:ft|')\s*(\d+)"),
        }
    )
    out_col = _height_decision(
        F.col(column), F.col("_h_s"), F.col("_h_num"), F.col("_h_ft"), F.col("_h_in")
    )
    return staged.withColumn(out, out_col).drop("_h_s", "_h_num", "_h_ft", "_h_in")


# ------------------------------------------------------------------ weight F2


def _weight_base(s: Column, val: Column, h2: Column) -> tuple[Column, Column]:
    """F2 base pass (explicit units, else BMI-plausibility inference) →
    (base_w, base_reason). Kept separate from the plausibility pass so the
    staged operator can project base_w as a NAMED column: referenced as an
    expression, the base when-chain would be re-inlined into bmi / flipped /
    final_w and the single fused projection overruns janino's 64 KB method
    limit (measured: whole-stage codegen fallback in the patients pipeline)."""
    has_kg = s.contains("kg")
    has_lb = s.contains("lb")
    bmi_kg = val / h2
    bmi_lb = (val * LB_TO_KG) / h2
    heuristic = F.when(val > 140.0, val * LB_TO_KG).otherwise(val)

    base_w = (
        F.when(has_kg, val)
        .when(has_lb, val * LB_TO_KG)
        .when(
            h2.isNotNull(),
            F.when(bmi_kg.between(10.0, 45.0), val)
            .when(bmi_lb.between(10.0, 45.0), val * LB_TO_KG)
            .otherwise(heuristic),
        )
        .otherwise(heuristic)
    )
    base_reason = (
        F.when(has_kg | has_lb, F.lit("ok"))
        .when(
            h2.isNotNull(),
            F.when(bmi_kg.between(10.0, 45.0), F.lit("missing_unit_assumed_kg"))
            .when(bmi_lb.between(10.0, 45.0), F.lit("missing_unit_assumed_lb"))
            .otherwise(F.lit("ambiguous_missing_unit")),
        )
        .otherwise(F.lit("no_height_missing_unit"))
    )
    return base_w, base_reason


def _weight_final(
    raw: Column,
    s: Column,
    val: Column,
    h2: Column,
    base_w: Column,
    base_reason: Column,
) -> Column:
    """F2 plausibility pass (etl.py:269-283, may override explicit units) +
    missing/marker/no-numeric guards, over a pre-computed base pass."""
    is_missing = raw.isNull()
    is_marker = s.isin("", "na", "n/a", "none", "null", "-")
    no_num = val.isNull()
    has_kg = s.contains("kg")
    has_lb = s.contains("lb")
    base_flagged = ~(has_kg | has_lb)

    bmi = base_w / h2
    implausible = h2.isNotNull() & ((bmi < 10.0) | (bmi > 60.0))
    flipped = F.when(has_kg, base_w / LB_TO_KG).otherwise(base_w * LB_TO_KG)
    new_bmi = flipped / h2
    fix_ok = new_bmi.between(10.0, 45.0)

    final_w = F.when(implausible & fix_ok, flipped).otherwise(base_w)
    final_reason = F.when(implausible & fix_ok, F.lit("implausible_bmi_fixed")).when(
        implausible, F.format_string("implausible_bmi_%.1f", bmi)
    ).otherwise(base_reason)
    final_flagged = F.when(implausible, F.lit(True)).otherwise(base_flagged)

    guard_reason = (
        F.when(is_missing, F.lit("missing_value"))
        .when(is_marker, F.lit("missing_marker"))
        .when(no_num, F.lit("no_numeric_found"))
    )
    w = F.when(guard_reason.isNotNull(), F.lit(None).cast("double")).otherwise(final_w)
    reason = F.coalesce(guard_reason, final_reason)
    flagged = F.when(guard_reason.isNotNull(), F.lit(True)).otherwise(final_flagged)

    return F.struct(
        w.alias("weight_kg"), flagged.alias("flagged"), reason.alias("reason")
    )


def with_weight_struct(
    df: DataFrame,
    column: str = "weight",
    height_col: str = "height_cm",
    out: str = "_w",
) -> DataFrame:
    """Staged F2: string normalize / number extraction / BMI denominator
    projected once, the 9-reason decision chain over columns."""
    s = F.lower(F.trim(F.col(column).cast("string")))
    staged = df.withColumns(
        {
            "_w_s": s,
            "_w_val": _num(s, FIRST_NUM),
            "_w_h2": F.pow(F.col(height_col) / 100.0, F.lit(2.0)),
        }
    )
    base_w, base_reason = _weight_base(
        F.col("_w_s"), F.col("_w_val"), F.col("_w_h2")
    )
    staged = staged.withColumns({"_w_base": base_w, "_w_breason": base_reason})
    out_col = _weight_final(
        F.col(column),
        F.col("_w_s"),
        F.col("_w_val"),
        F.col("_w_h2"),
        F.col("_w_base"),
        F.col("_w_breason"),
    )
    return staged.withColumn(out, out_col).drop(
        "_w_s", "_w_val", "_w_h2", "_w_base", "_w_breason"
    )


# ------------------------------------------------------------------ F2 log


def weight_issue() -> Column:
    """F2's log entry over the ``with_weight_struct`` result column ``_w``."""
    w = F.col("_w")
    return issue(
        w["flagged"],
        patient_id=F.col("patient_id"),
        filename="patients.csv",
        original_value=F.col("weight"),
        cleaned_value=w["weight_kg"],
        column_name="weight",
        reason=w["reason"],
    )
