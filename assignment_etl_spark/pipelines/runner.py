"""End-to-end batch run: all three pipelines + unioned logs table,
written to the native parquet store (and optionally JDBC — reference loads
Postgres, etl.py:711-719).

Each pipeline persists one tagged frame per source (ops.quality), so the
``logs`` table is a union of five branches — one per source, one per orphan
audit — over caches. The result tables are projections of those caches
and are not cached themselves. Every cache a run makes (the three tagged
frames) is a caching.scoped_persist:
``release_scoped_caches()`` after the last action on the result frees all.

The three sources share nothing until the logs union, and the four tables
are written to separate paths, so both steps run their independent parts
concurrently through :func:`_run_concurrently`:

- ``run_etl`` builds the three pipelines on three threads. Building is
  pure planning (no Spark job starts); what it overlaps is the driver's
  py4j round trips, which release the GIL while they wait on the JVM.
- ``write_parquet_store`` submits its four writes on four threads, so the
  scheduler runs their small stages side by side instead of leaving most
  cores idle behind one 1–4 task stage at a time. When two writes need
  the same block of a tagged cache at once, one task computes it and the
  other waits on Spark's block lock and reads it.

Each thread is a ``pyspark.InheritableThread``, so it starts with the
caller's local properties: its jobs carry the caller's job group and
description. Every thread is joined before the helper returns, also when
one fails; if several fail, the error of the first in submission order is
raised, whatever order they failed in. Nothing is released inside the
helper: the scoped caches stay registered until the caller's
``release_scoped_caches()``, after both steps have returned.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial
from typing import Any, Callable

from pyspark import InheritableThread
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


def _run_concurrently(calls: list[Callable[[], Any]]) -> list[Any]:
    """Run each call on its own InheritableThread; return their results in
    submission order once every thread has been joined. If calls raised,
    re-raise the exception of the first failed call in submission order."""
    results: list[Any] = [None] * len(calls)
    errors: list[BaseException | None] = [None] * len(calls)

    def target(i: int) -> None:
        try:
            results[i] = calls[i]()
        except BaseException as e:  # noqa: BLE001 — re-raised on the caller's thread
            errors[i] = e

    threads = [InheritableThread(target, args=(i,)) for i in range(len(calls))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return results


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
    (p_clean, p_logs), (e_clean, e_logs), (d_clean, d_logs) = _run_concurrently([
        partial(patients.run, spark, patients_path, persist_intermediates=True),
        partial(encounters.run, spark, encounters_path, persist_intermediates=True),
        partial(diagnoses.run, spark, diagnoses_path, persist_intermediates=True),
    ])
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
    _run_concurrently([
        partial(df.write.mode("overwrite").parquet, f"{base_path}/{name}")
        for name, df in result.tables().items()
    ])
