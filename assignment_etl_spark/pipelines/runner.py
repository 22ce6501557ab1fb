"""End-to-end batch run: all three pipelines + unioned logs table,
written to the native parquet store (and optionally JDBC — reference loads
Postgres, etl.py:711-719).

Each pipeline persists one tagged frame per source (ops.quality), so the
``logs`` table is a union of five branches — one per source, one per orphan
audit — over caches. The result tables are projections of those caches
and are not cached themselves. Every cache a run makes (the three tagged
frames) is a caching.scoped_persist:
``release_scoped_caches()`` after the last action on the result frees all.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from assignment_etl_spark.ops.quality import orphan_check, union_logs
from assignment_etl_spark.pipelines import diagnoses, encounters, patients


@dataclass
class EtlResult:
    patients: DataFrame
    encounters: DataFrame
    diagnoses: DataFrame
    logs: DataFrame

    def tables(self) -> dict[str, DataFrame]:
        return {
            "patients": self.patients,
            "encounters": self.encounters,
            "diagnoses": self.diagnoses,
            "logs": self.logs,
        }


def run_etl(
    spark: SparkSession,
    patients_path: str,
    encounters_path: str,
    diagnoses_path: str,
    *,
    ri_audit: bool = False,
) -> EtlResult:
    """Full batch run. ``ri_audit=True`` adds the referential-integrity
    audit the reference lacks (SURVEY §2.3): orphan encounters (patient_id
    not in patients) and orphan diagnoses (encounter_id not in encounters)
    are reported to the logs table — the data itself still flows through
    unchanged, matching reference behavior."""
    p_clean, p_logs = patients.run(spark, patients_path, persist_intermediates=True)
    e_clean, e_logs = encounters.run(
        spark, encounters_path, persist_intermediates=True
    )
    d_clean, d_logs = diagnoses.run(
        spark, diagnoses_path, persist_intermediates=True
    )
    log_parts = [p_logs, e_logs, d_logs]
    if ri_audit:
        log_parts += [
            orphan_check(e_clean, p_clean, "patient_id", "patient_id",
                         filename="encounters.csv"),
            orphan_check(d_clean, e_clean, "encounter_id", "encounter_id",
                         filename="diagnoses.xml"),
        ]
    return EtlResult(p_clean, e_clean, d_clean, union_logs(*log_parts))


def write_parquet_store(result: EtlResult, base_path: str) -> None:
    for name, df in result.tables().items():
        df.write.mode("overwrite").parquet(f"{base_path}/{name}")
