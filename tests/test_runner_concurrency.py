"""The ETL runner's concurrent build and write (pipelines/runner.py) and the
thread-safe scoped-persist registry it relies on (caching.py).

``run_etl`` builds its three pipelines on three threads and
``write_parquet_store`` submits its four writes on four threads, both
through ``runner._run_concurrently``. These tests pin what callers rely
on: the caller's job group reaches every job, every thread is joined
before an error surfaces, the error is the first in submission order, the
build stays pure planning, and the registry loses no concurrent persist.
"""

from __future__ import annotations

import sys
import threading

import pytest
from pyspark import InheritableThread
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from assignment_etl_spark.caching import (
    release_scoped_caches,
    scoped_cache_count,
    scoped_persist,
)
from assignment_etl_spark.pipelines.runner import (
    EtlResult,
    _run_concurrently,
    run_etl,
    write_parquet_store,
)


def _etl(spark, fixture_dir, diagnoses="diagnoses.xml"):
    return run_etl(
        spark,
        str(fixture_dir / "patients.csv"),
        str(fixture_dir / "encounters.csv"),
        str(fixture_dir / diagnoses),
        ri_audit=True,
    )


@pytest.fixture
def job_group(spark):
    """Yield a setter for the caller's job group; clear it afterwards."""
    sc = spark.sparkContext
    yield lambda group: sc.setJobGroup(group, group)
    sc.setJobGroup(None, None)


def test_scoped_persist_registry_is_thread_safe(spark):
    release_scoped_caches()
    frames = [spark.range(i + 1) for i in range(8)]
    threads = [InheritableThread(scoped_persist, args=(df,)) for df in frames]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert scoped_cache_count() == 8
    assert release_scoped_caches() == 8
    assert scoped_cache_count() == 0


def test_helper_returns_in_submission_order():
    release = threading.Event()

    def slow():
        release.wait(timeout=30)
        return "slow"

    def fast():
        release.set()
        return "fast"

    assert _run_concurrently([slow, fast]) == ["slow", "fast"]


def test_helper_raises_first_error_in_submission_order():
    """The second call fails first; the first call's error is the one
    raised, and both threads have finished by then."""
    second_failed = threading.Event()

    def first():
        second_failed.wait(timeout=30)
        raise ValueError("first")

    def second():
        try:
            raise KeyError("second")
        finally:
            second_failed.set()

    before = set(threading.enumerate())
    with pytest.raises(ValueError, match="first"):
        _run_concurrently([first, second])
    assert set(threading.enumerate()) <= before


def test_failed_write_raises_its_error_after_every_write(spark, fixture_dir, tmp_path):
    """One of the four writes fails: its error reaches the caller, no
    helper thread outlives the call, and the other three writes ran to
    completion first. (A regular file at a table's target is no failure:
    overwrite mode deletes it and writes the table.)"""
    res = _etl(spark, fixture_dir)
    broken = res.diagnoses.withColumn(
        "code", F.raise_error(F.lit("diagnoses write failed"))
    )
    before = set(threading.enumerate())
    with pytest.raises(Exception, match="diagnoses write failed"):
        write_parquet_store(
            EtlResult(res.patients, res.encounters, broken, res.logs), str(tmp_path)
        )
    assert set(threading.enumerate()) <= before
    for name in ["patients", "encounters", "logs"]:
        assert (tmp_path / name / "_SUCCESS").exists(), name
    assert not (tmp_path / "diagnoses" / "_SUCCESS").exists()


def test_missing_source_raises_analysis_exception(spark, fixture_dir):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        _etl(spark, fixture_dir, diagnoses="missing.xml")


def test_writes_run_in_the_callers_job_group(spark, fixture_dir, tmp_path, job_group):
    """Each write thread inherits the caller's local properties, so the
    jobs of all four writes are attributed to the caller's job group."""
    res = _etl(spark, fixture_dir)
    job_group("w")
    write_parquet_store(res, str(tmp_path))
    assert len(spark.sparkContext.statusTracker().getJobIdsForGroup("w")) >= 4


def test_build_is_pure_planning(spark, fixture_dir, job_group):
    """Call-site tracking is off in the engine's session, and building
    ``run_etl``'s result on three threads starts no Spark job."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    job_group("run_etl_build")
    _etl(spark, fixture_dir)
    assert spark.sparkContext.statusTracker().getJobIdsForGroup("run_etl_build") == []
