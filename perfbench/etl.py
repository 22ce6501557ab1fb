"""etl_batch: the paper's own job — ``run_etl(..., ri_audit=True)`` over the
three generated sources, then ``write_parquet_store`` — timed per run, and
the written store checked against the generator's expected counts."""

from __future__ import annotations

import os
import shutil

import gen_sources
import pyarrow.compute as pc
import pyarrow.parquet as pq
from common import Clock, median, pct, release

# rows per source; the engine's fixed per-stage cost dominates at this size
N_ROWS = 5000
TABLES = ["patients", "encounters", "diagnoses", "logs"]


def etl_once(spark, paths: dict, store: str) -> list:
    """One timed operation; returns the frames ``run_etl`` left persisted."""
    from assignment_etl_spark.pipelines.runner import run_etl, write_parquet_store

    res = run_etl(spark, paths["patients"], paths["encounters"], paths["diagnoses"],
                  ri_audit=True)
    write_parquet_store(res, store)
    return list(res.tables().values())


def store_facts(store: str) -> dict:
    """Rows per table, non-null cells per (table, column) and log rows per
    reason of a written store, read with Arrow, so no Spark job runs."""
    rows, nonnull = {}, {}
    for t in TABLES:
        tab = pq.read_table(os.path.join(store, t))
        rows[t] = tab.num_rows
        for c in tab.column_names:
            nonnull[(t, c)] = tab.num_rows - tab.column(c).null_count
    logs = pq.read_table(os.path.join(store, "logs"), columns=["reason"])
    counts = pc.value_counts(logs.column("reason")).to_pylist()
    return {"rows": rows, "nonnull": nonnull,
            "reasons": {d["values"]: d["counts"] for d in counts}}


def counts_match(tables: dict, reasons: dict, expected: dict) -> bool:
    """The output check: every table and every log reason holds exactly
    the rows the generator predicts."""
    return tables == expected["clean"] and reasons == expected["reasons"]


def check_store(store: str, expected: dict) -> bool:
    facts = store_facts(store)
    return counts_match(facts["rows"], facts["reasons"], expected)


def run(spark, work: str, seed: int, seconds: float, setup_clock: Clock) -> dict:
    """Warm up once, then repeat the operation until ``seconds`` have been
    measured (at least once). Returns raw results for the caller."""
    expected = gen_sources.generate(os.path.join(work, "inputs"), seed, N_ROWS)
    paths = expected["paths"]
    store = os.path.join(work, "store")

    def op_and_check() -> tuple[float, bool]:
        clock = Clock()
        frames = etl_once(spark, paths, store)
        wall = clock.elapsed()
        ok = check_store(store, expected)
        release(spark, frames)
        shutil.rmtree(store)
        return wall, ok

    op_and_check()  # warm-up: JIT, codegen caches, Python workers
    setup_s = setup_clock.elapsed()

    walls, failed = [], 0
    measured = Clock()
    while not walls or measured.elapsed() < seconds:
        wall, ok = op_and_check()
        walls.append(wall)
        failed += not ok
    p50 = median(walls)
    return {
        "attempted": len(walls),
        "failed": failed,
        "setup_s": setup_s,
        "throughput_per_s": expected["input_rows"] / p50,
        "p50_ms": p50 * 1000.0,
        "p90_ms": pct(walls, 90) * 1000.0,
    }
