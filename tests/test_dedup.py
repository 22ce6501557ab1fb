"""D1-D3 deterministic keep-first dedup, through the marks and issue
Columns the pipelines run (``mark_duplicates`` / ``duplicate_issue`` for
encounters and diagnoses, ``mark_patient_duplicates`` /
``patient_dup_issue`` for patients)."""

from pyspark.sql import functions as F

from assignment_etl_spark.ops.dedup import (
    duplicate_issue,
    mark_duplicates,
    mark_patient_duplicates,
    patient_dup_issue,
)
from assignment_etl_spark.ops.quality import KEEP, issue_logs
from assignment_etl_spark.schemas import ROW_ID

PATIENT_COLS = (
    f"{ROW_ID} long, patient_id string, given_name string, family_name string,"
    " dob string, height_cm double, weight_kg double"
)


def _patient_dedup(df):
    """(survivors, log stream) of D1, as clean_patients derives them."""
    marked = mark_patient_duplicates(df)
    return marked.filter(F.col(KEEP)), issue_logs(marked, patient_dup_issue())


def test_keep_first_is_deterministic(spark):
    rows = [(i, "k" if i % 2 == 0 else "j", f"v{i}") for i in range(100)]
    df = spark.createDataFrame(rows, f"{ROW_ID} long, key string, val string")
    kept = mark_duplicates(df, ["key"]).filter(F.col("_rn") == 1)
    out = {r.key: r.val for r in kept.collect()}
    assert out == {"k": "v0", "j": "v1"}  # first in source order, always


def test_dedup_log_all_members(spark):
    df = spark.createDataFrame(
        [(0, "a", "p1", "f1"), (1, "b", "p2", "f1"), (2, "a", "p3", "f2")],
        f"{ROW_ID} long, encounter_id string, patient_id string, source_file string",
    )
    marked = mark_duplicates(df, ["encounter_id"])
    clean = marked.filter(F.col("_rn") == 1)
    logs = issue_logs(
        marked,
        duplicate_issue(
            ["encounter_id"],
            log_all_members=True,
            filename_col=F.col("source_file"),
            column_name="encounter_id",
            reason="duplicate_encounter_id",
        ),
    )
    assert clean.count() == 2
    kept = {r.encounter_id: r.patient_id for r in clean.collect()}
    assert kept["a"] == "p1"  # keep-first
    lg = logs.collect()
    assert len(lg) == 2  # both group members logged (keep=False semantics)
    assert {r.patient_id for r in lg} == {"p1", "p3"}
    assert {r.reason for r in lg} == {"duplicate_encounter_id"}


def test_patient_dedup_policies(spark):
    rows = [
        (0, "p1", "Ana", "G", "1991-02-03", 170.0, 65.0),
        (1, "p1", "Ann", "G", "1991-02-03", 171.0, 66.0),  # id dup → dropped
        (2, "p2", "Ana", "G", "1991-02-03", 170.4, 64.6),  # person dup (rounds to 170/65)
        (3, "p3", "Bob", "H", "12/31/1990", 180.0, 80.0),
        (4, "p4", "Bob", "H", "1990-12-31", 180.0, 80.0),  # raw dob differs → NOT dup
    ]
    clean, logs = _patient_dedup(spark.createDataFrame(rows, PATIENT_COLS))
    assert {r.patient_id for r in clean.collect()} == {"p1", "p3", "p4"}
    lg = logs.collect()
    assert len(lg) == 2
    assert {r.patient_id for r in lg} == {"p1", "p2"}


def test_patient_dedup_sequential_quirk(spark):
    """A person-dup of a row dropped as an id-dup is logged but survives
    (reference computes log masks on the full frame, drops sequentially)."""
    rows = [
        (0, "p1", "A", "B", "d", 170.0, 65.0),
        (1, "p1", "Z", "Z", "zd", 150.0, 50.0),  # id dup of row0 → dropped
        (2, "p9", "Z", "Z", "zd", 150.0, 50.0),  # person dup of row1 only
    ]
    clean, logs = _patient_dedup(spark.createDataFrame(rows, PATIENT_COLS))
    assert {r.patient_id for r in clean.collect()} == {"p1", "p9"}  # p9 survives
    assert {r.patient_id for r in logs.collect()} == {"p1", "p9"}  # both logged


def test_dedup_within_window_bursts(spark):
    from datetime import datetime

    from assignment_etl_spark.ops.dedup import dedup_within_window

    t = lambda s: datetime(2024, 1, 1, 12, 0, s)
    rows = [
        ("a", t(0), "e1"), ("a", t(5), "e2"), ("a", t(9), "e3"),  # one burst
        ("a", t(30), "e4"),                                        # new burst
        ("b", t(1), "e5"),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, e string")
    kept = {
        r.e
        for r in dedup_within_window(
            df, keys=["k"], ts_col="ts", window_seconds=10, order_cols=["e"]
        ).collect()
    }
    assert kept == {"e1", "e4", "e5"}


def test_dedup_within_window_chained_burst_collapses(spark):
    from datetime import datetime

    from assignment_etl_spark.ops.dedup import dedup_within_window

    # events every 5s for a minute: gap never exceeds 10s → ONE row kept
    rows = [("a", datetime(2024, 1, 1, 12, 0, 5 * i), f"e{i}") for i in range(12)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, e string")
    kept = dedup_within_window(
        df, keys=["k"], ts_col="ts", window_seconds=10, order_cols=["e"]
    ).collect()
    assert len(kept) == 1 and kept[0].e == "e0"
