"""ETL throughput bench: the reference's whole batch job at scale.

Generates the three messy sources with ``perfbench/gen_sources.py``
(BOM/CRLF patients CSV with mixed units; encounters CSV with mixed
delimiters, repeated headers, blank lines, ragged rows and five timestamp
formats; namespaced diagnoses XML), about ``n_rows`` rows each, then times
``run_etl(..., ri_audit=True)`` with all four tables written to Spark's
``noop`` sink: every column of every table is computed, the F3 pass
included, and nothing is stored. (A ``count()`` would prune the columns
and skip most of the work.) The rows of each table and the log rows per
reason are then checked against the generator's expected output, and
the classes Janino compiled during the run and their compile time
(``internals.codegen_compiles``) are printed next to that check.

Run: python tools/pipeline_bench.py [n_rows] [seed]   (default 500000 1)
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))


def run(work: str, n: int, seed: int) -> bool:
    """Generate the sources under ``work``, time one run, check its output."""
    from gen_sources import generate

    t0 = time.perf_counter()
    expected = generate(work, seed, n)
    paths = expected["paths"]
    print(f"generated {expected['input_rows']} input rows in "
          f"{time.perf_counter() - t0:.1f}s")

    from assignment_etl_spark import internals
    from assignment_etl_spark.caching import release_scoped_caches
    from assignment_etl_spark.pipelines.runner import run_etl
    from assignment_etl_spark.session import get_spark

    spark = get_spark("pipeline-bench")
    spark.sparkContext.setLogLevel("ERROR")
    n0, ns0 = internals.codegen_compiles(spark)
    t0 = time.perf_counter()
    res = run_etl(spark, paths["patients"], paths["encounters"], paths["diagnoses"],
                  ri_audit=True)
    for df in res.tables().values():
        df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    n1, ns1 = internals.codegen_compiles(spark)

    # the tables are cached now, so the checks rerun none of the work
    rows = {name: df.count() for name, df in res.tables().items()}
    reasons = dict(res.logs.groupBy("reason").count().collect())
    release_scoped_caches()
    ok = rows == expected["clean"] and reasons == expected["reasons"]
    print(f"run_etl (ri_audit) + noop write: {rows} in {dt:.1f}s = "
          f"{expected['input_rows'] / dt / 1e3:.1f}k input rows/s; "
          f"output check {'passed' if ok else 'FAILED'}; "
          f"{n1 - n0} classes compiled in {(ns1 - ns0) / 1e6:.0f} ms")
    return ok


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    with tempfile.TemporaryDirectory(prefix="pipe_bench_") as work:
        ok = run(work, n, seed)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
