"""Encounters pipeline: S2 messy scan → F3 → F6 parse → D2 dedup →
P6 discharge<admit → missing-discharge audit → P5 type enum → F8 duration
(reference clean_encounters order, etl.py:493-604, then the final
clean_utf8 pass at etl.py:684 which lowercases the "UNKNOWN" fill).

Order matters and is reproduced exactly:
- dedup precedes the discharge checks (dup copies are not re-audited), so
  every rule after it fires on kept rows only;
- the missing-discharge audit runs AFTER discharge_before_admit nulls out
  bad values, so those rows log BOTH reasons (verified golden: 1
  discharge_before_admit + 2 missing_discharge from the shipped data);
- enum validation sees lowercased values (clean_utf8 runs first,
  etl.py:509).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from assignment_etl_spark.io.messy_csv import read_messy_csv
from assignment_etl_spark.ops.codes import enum_invalid, enum_issue
from assignment_etl_spark.ops.dates import duration_hours, with_parsed_datetimes
from assignment_etl_spark.ops.dedup import duplicate_issue, mark_duplicates
from assignment_etl_spark.ops.quality import ISSUES, KEEP, issue, tag_issues
from assignment_etl_spark.ops.quality import tagged_outputs
from assignment_etl_spark.ops.strings import normalize_strings
from assignment_etl_spark.schemas import ENCOUNTER_COLUMNS, ENCOUNTERS_CLEAN

VALID_ENCOUNTER_TYPES = ["inpatient", "outpatient", "ed"]
DATETIME_COLUMNS = ["admit_dt", "discharge_dt"]


def clean_encounters(
    raw: DataFrame, *, persist_intermediates: bool = False
) -> tuple[DataFrame, DataFrame]:
    """raw → (clean encounters, log stream), both projections of one tagged
    frame (see ops.quality). persist_intermediates caches that frame, so the
    messy-CSV split, the first NFKC pass, the 13-format timestamp lattice
    and the dedup window run once for both outputs."""
    df = with_parsed_datetimes(
        normalize_strings(raw, ENCOUNTER_COLUMNS), DATETIME_COLUMNS
    )
    df = mark_duplicates(df, ["encounter_id"])

    kept = F.col("_rn") == 1
    admit, discharge = F.col("admit_dt"), F.col("discharge_dt")
    bad_order = discharge < admit  # NULL-safe: NULL→skip
    discharge_after = F.when(bad_order, F.lit(None)).otherwise(discharge)
    bad_type = enum_invalid("encounter_type", VALID_ENCOUNTER_TYPES)
    # Reference quirk (etl.py:543,556,569,582): row.get("source_file",
    # default) returns NaN — NOT the default — when the column exists with a
    # missing value, because Series.get only falls back on an absent KEY. So
    # every log entry after the parse carries the RAW source_file (NULL
    # stays NULL), as enum_issue does.
    src_file = F.col("source_file")
    discharge_log = {"patient_id": F.col("patient_id"), "filename": src_file,
                     "column_name": "discharge_dt"}
    tagged = df.select(
        "encounter_id",
        "patient_id",
        "admit_dt",
        discharge_after.alias("discharge_dt"),
        F.when(bad_type, F.lit("UNKNOWN"))
        .otherwise(F.col("encounter_type"))
        .alias("encounter_type"),
        "source_file",
        duration_hours(admit, discharge_after).alias("length_of_stay_hours"),
        kept.alias(KEEP),
        tag_issues(
            *[F.col(f"_{c}_issue") for c in DATETIME_COLUMNS],
            # the encounter_id itself is the original_value (etl.py:545)
            duplicate_issue(
                ["encounter_id"],
                log_all_members=True,
                filename_col=src_file,
                reason="duplicate_encounter_id",
            ),
            issue(kept & bad_order, **discharge_log, original_value=discharge,
                  reason="discharge_before_admit"),
            issue(kept & discharge_after.isNull(), **discharge_log,
                  reason="missing_discharge"),
            F.when(kept, enum_issue(bad_type, "encounter_type")),
        ).alias(ISSUES),
    )
    # the final clean_utf8 pass (etl.py:684) lowercases the UNKNOWN fill
    return tagged_outputs(tagged, ENCOUNTERS_CLEAN, persist=persist_intermediates)


def run(
    spark: SparkSession, path: str, *, persist_intermediates: bool = False
) -> tuple[DataFrame, DataFrame]:
    return clean_encounters(
        read_messy_csv(spark, path, ENCOUNTER_COLUMNS),
        persist_intermediates=persist_intermediates,
    )
