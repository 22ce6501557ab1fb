"""Referential-integrity audit (anti-join orphan checks, SURVEY §2.3):
orphans are logged but retained — the reference lets them flow silently."""

from pyspark.sql import functions as F

from assignment_etl_spark import internals
from assignment_etl_spark.ops.quality import orphan_check
from assignment_etl_spark.pipelines.runner import run_etl


def test_orphan_check_logs_and_plan(spark):
    child = spark.createDataFrame(
        [("e1", "p1"), ("e2", "p9"), ("e3", None)],
        "encounter_id string, patient_id string",
    )
    parent = spark.createDataFrame([("p1",), ("p2",)], "patient_id string")
    logs = orphan_check(
        child, parent, "patient_id", "patient_id", filename="enc.csv"
    )
    rows = logs.collect()
    # p9 is an orphan; the NULL key is an orphan too (no parent matches NULL)
    assert {r.original_value for r in rows} == {"p9", None}
    assert {r.reason for r in rows} == {"orphan_patient_id"}
    plan = internals.executed_plan_string(logs)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_runner_ri_audit(spark, fixture_dir):
    etl = run_etl(
        spark,
        str(fixture_dir / "patients.csv"),
        str(fixture_dir / "encounters.csv"),
        str(fixture_dir / "diagnoses.xml"),
        ri_audit=True,
    )
    orphans = etl.logs.filter(F.col("reason").startswith("orphan_"))
    by_reason = {r.reason: r.n for r in orphans.groupBy("reason").agg(F.count(F.lit(1)).alias("n")).collect()}
    # x-9999 (encounters fixture) + e-107's NULL source patient x-0007 exists;
    # encounters: x-9999 orphan. diagnoses: e-104/e-103 exist; "unknown" ids orphan.
    assert by_reason["orphan_patient_id"] >= 1
    assert by_reason["orphan_encounter_id"] >= 1
    # orphan rows are still present in the data tables (retained, not dropped)
    assert etl.encounters.filter(F.col("patient_id") == "x-9999").count() == 1
