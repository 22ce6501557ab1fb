"""ETL-pipeline throughput bench: generate a large messy encounters CSV
(the reference's most complex ingest path: mixed delimiters, repeated
headers, blank lines, ragged rows, mixed timestamp formats, duplicates)
and time the engine's full encounters pipeline on it.

Run: python tools/pipeline_bench.py [n_rows]   (default 500_000)
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def generate(path: str, n: int) -> None:
    fmts = [
        "2025-01-{d:02d}T{h:02d}:00:00+01:00",
        "01/{d:02d}/2025 {h:02d}:30",
        "{d:02d}-01-2025 {h:02d}:15",
        "2025/01/{d:02d} {h:02d}:45",
        "2025-01-{d:02d} {h:02d}:00:00",
    ]
    types = ["INPATIENT", "OUTPATIENT", "ED", "TELE", ""]
    with open(path, "w") as f:
        f.write("encounter_id,patient_id,admit_dt,discharge_dt,encounter_type,source_file\n")
        for i in range(n):
            d, h = (i % 27) + 1, i % 23
            admit = fmts[i % 5].format(d=d, h=h)
            discharge = "" if i % 17 == 3 else fmts[(i + 1) % 5].format(d=d, h=(h + 1) % 23)
            eid = f"E-{i - (i % 13 == 7):07d}"  # every 13th re-uses the prior id (dup)
            row = f"{eid},P-{i % 100000:06d},{admit},{discharge},{types[i % 5]},f{i % 3}.csv"
            if i % 11 == 5:
                row = row.replace(",", ";") + ";EXTRA"  # semicolon + 7th field
            f.write(row + "\n")
            if i % 97 == 11:
                f.write("\n")  # blank line
            if i % 251 == 13:  # repeated interior header
                f.write("encounter_id,patient_id,admit_dt,discharge_dt,encounter_type,source_file\n")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    path = os.path.join(tempfile.mkdtemp(prefix="pipe_bench_"), "encounters_big.csv")
    t0 = time.perf_counter()
    generate(path, n)
    print(f"generated {n} rows ({os.path.getsize(path)/1e6:.1f} MB) in {time.perf_counter()-t0:.1f}s")

    from assignment_etl_spark.pipelines import encounters
    from assignment_etl_spark.session import get_spark

    spark = get_spark("pipeline-bench")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    clean, logs = encounters.run(spark, path, persist_intermediates=True)
    n_clean = clean.count()
    n_logs = logs.count()
    dt = time.perf_counter() - t0
    print(
        f"engine encounters pipeline: {n_clean} clean rows + {n_logs} log rows "
        f"in {dt:.1f}s = {n / dt / 1e3:.0f}k rows/s"
    )


if __name__ == "__main__":
    main()
