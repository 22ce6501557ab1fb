"""Generated-code reuse across ETL runs in one session (session.py).

Spark's codegen cache keys each compiled class on (context class loader,
source). One ``run_etl(ri_audit=True)`` run with its four table writes
compiles 100 classes, which is all of Spark's default cache, so a second
run in the same session recompiled classes it had compiled before.
``get_spark`` sizes the cache for the ETL; these tests pin that.
"""

from __future__ import annotations

from assignment_etl_spark import internals
from assignment_etl_spark.caching import release_scoped_caches
from assignment_etl_spark.pipelines.runner import run_etl


def _etl_to_store(spark, fixture_dir, store) -> None:
    """One ETL run, its tables written one after another: concurrent
    writes (``write_parquet_store``) can plan a shared tagged cache's
    build differently from run to run, which would make the count vary."""
    res = run_etl(
        spark,
        str(fixture_dir / "patients.csv"),
        str(fixture_dir / "encounters.csv"),
        str(fixture_dir / "diagnoses.xml"),
        ri_audit=True,
    )
    for name, df in res.tables().items():
        df.write.mode("overwrite").parquet(str(store / name))
    release_scoped_caches()


def test_warm_etl_run_reuses_generated_classes(spark, fixture_dir, tmp_path):
    _etl_to_store(spark, fixture_dir, tmp_path / "cold")
    n0, ns0 = internals.codegen_compiles(spark)
    _etl_to_store(spark, fixture_dir, tmp_path / "warm")
    n1, ns1 = internals.codegen_compiles(spark)
    assert n1 == n0, (
        f"the warm run compiled {n1 - n0} classes in {(ns1 - ns0) / 1e6:.0f} ms"
    )


def test_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
