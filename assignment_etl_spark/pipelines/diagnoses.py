"""Diagnoses pipeline: S3 XML scan → drop missing-code → fill rules →
D3 dedup by (encounter_id, code) → F9/F10 typing → F3 normalize
(reference clean_diagnoses, etl.py:607-662, + clean_utf8 at etl.py:690).

Fill-rule semantics: the reference fills encounter_id *or* is_primary, never
both, via an if/elif chain (etl.py:632-640 — SURVEY §7.4.5). The engine
default fixes that to independent fills (strict_parity=False); pass
strict_parity=True for bit-parity with the quirk. The reference also never
logs the fills (it assigns ``reason`` without appending, etl.py:635,640);
the engine logs them — a documented improvement exercising the
FIXTURES.md §4 zero-coverage reasons.

Dedup runs AFTER the encounter_id fill, like the reference: two
missing-encounter_id rows with the same code collide on ("UNKNOWN", code).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from assignment_etl_spark.io.xml import read_diagnoses_xml
from assignment_etl_spark.ops.codes import coerce_bool
from assignment_etl_spark.ops.dates import parse_iso_with_midnight_fallback
from assignment_etl_spark.ops.dedup import duplicate_issue, mark_duplicates
from assignment_etl_spark.ops.quality import ISSUES, KEEP, issue, tag_issues
from assignment_etl_spark.ops.quality import tagged_outputs
from assignment_etl_spark.schemas import DIAGNOSES_CLEAN


def clean_diagnoses(
    raw: DataFrame,
    *,
    strict_parity: bool = False,
    persist_intermediates: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """raw → (clean diagnoses, log stream), both projections of one tagged
    frame (see ops.quality); persist_intermediates caches it, so the XML
    scan and the dedup window run once for both outputs."""
    df = raw.withColumn("is_primary", coerce_bool(F.col("is_primary_raw")))
    enc, code = F.col("encounter_id"), F.col("code")
    is_primary = F.col("is_primary")
    # Rule 1 drops rows with missing code (etl.py:618-630); the fills and
    # the dedup run on the survivors only
    has_code = code.isNotNull()
    # Rules 2/3: fills (if/elif quirk vs independent — see module docstring)
    fill_enc = has_code & enc.isNull()
    fill_prim = has_code & is_primary.isNull() & (
        enc.isNotNull() if strict_parity else F.lit(True)
    )
    # Rule 4: keep-first dedup on the FILLED (encounter_id, code)
    filled = F.col("_enc_filled")
    df = mark_duplicates(
        df.withColumn("_enc_filled", F.when(fill_enc, "UNKNOWN").otherwise(enc)),
        ["_enc_filled", "code"],
    )
    ids = {"encounter_id": enc, "code": code}
    row_json = F.to_json(F.struct("encounter_id", "code", "code_system"))
    tagged = df.select(
        filled.alias("encounter_id"),
        "code",
        "code_system",
        F.when(fill_prim, False).otherwise(is_primary).alias("is_primary"),
        parse_iso_with_midnight_fallback(F.col("recorded_at_raw")).alias(
            "recorded_at"
        ),
        (has_code & (F.col("_rn") == 1)).alias(KEEP),
        tag_issues(
            issue(~has_code, **ids, original_value=row_json,
                  reason="dropped for missing code"),
            issue(fill_enc, **ids, column_name="encounter_id",
                  cleaned_value="UNKNOWN", reason="missing encounter_id"),
            issue(fill_prim, **ids, column_name="is_primary",
                  cleaned_value="false", reason="filled missing is_primary"),
            F.when(has_code, duplicate_issue(
                ["encounter_id", "code"],
                id_col="_enc_filled",
                id_log_col="encounter_id",
                reason="duplicate encounter_id + code",
                original_value_col=F.to_json(
                    F.struct(filled.alias("encounter_id"), code)
                ),
            )),
        ).alias(ISSUES),
    )
    return tagged_outputs(tagged, DIAGNOSES_CLEAN, persist=persist_intermediates)


def run(
    spark: SparkSession,
    path: str,
    *,
    strict_parity: bool = False,
    persist_intermediates: bool = False,
) -> tuple[DataFrame, DataFrame]:
    return clean_diagnoses(
        read_diagnoses_xml(spark, path),
        strict_parity=strict_parity,
        persist_intermediates=persist_intermediates,
    )
