"""Patients pipeline: S1 → P1 → F1 height → F2 weight → F4 sex → F5 dob →
D1 dedup → drop raw cols → F3 normalize (reference order, etl.py:664-678).

Ordering constraints preserved (SURVEY §3.1): height before weight (BMI
inference consumes height_cm); dedup after all value normalization (rounded
kg/cm are dedup keys); global lowercase last. Every rule logs on the full
frame, before the dedup drops (etl.py:451-460).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from assignment_etl_spark.io.csv import read_csv
from assignment_etl_spark.ops.codes import sex_issue, sex_to_iso5218
from assignment_etl_spark.ops.dates import DATE_FORMATS, dob_issue
from assignment_etl_spark.ops.dates import parse_timestamp_multi
from assignment_etl_spark.ops.dedup import mark_patient_duplicates, patient_dup_issue
from assignment_etl_spark.ops.quality import ISSUES, tag_issues, tagged_outputs
from assignment_etl_spark.ops.units import weight_issue, with_height_cm
from assignment_etl_spark.ops.units import with_weight_struct
from assignment_etl_spark.schemas import PATIENTS_CLEAN, PATIENTS_RAW


def clean_patients(
    raw: DataFrame, *, persist_intermediates: bool = False
) -> tuple[DataFrame, DataFrame]:
    """raw (string cols + _row_id) → (clean patients, log stream), both
    projections of one tagged frame (see ops.quality) that
    persist_intermediates caches, so the F2 chain and the two dedup windows
    run once for both outputs."""
    df = with_weight_struct(with_height_cm(raw))
    df = mark_patient_duplicates(
        df.withColumns(
            {
                "weight_kg": F.col("_w.weight_kg"),
                "sex_iso": sex_to_iso5218(F.col("sex")),
                "dob_parsed": parse_timestamp_multi(F.col("dob"), DATE_FORMATS),
            }
        )
    )
    tagged = df.select(
        *PATIENTS_CLEAN.fieldNames(),
        F.col("_keep"),
        tag_issues(
            weight_issue(),
            sex_issue(),
            dob_issue(F.col("dob_parsed")),
            patient_dup_issue(),
        ).alias(ISSUES),
    )
    return tagged_outputs(tagged, PATIENTS_CLEAN, persist=persist_intermediates)


def run(
    spark: SparkSession, path: str, *, persist_intermediates: bool = False
) -> tuple[DataFrame, DataFrame]:
    return clean_patients(
        read_csv(spark, path, schema=PATIENTS_RAW),
        persist_intermediates=persist_intermediates,
    )
