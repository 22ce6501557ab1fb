"""Scale-smoke: amplify sf0.1 in-memory (explode×N with re-keyed ids) and
measure whether core operator throughput holds as rows grow — the local
proxy for "would this plan survive a 100× scale-up" (SCALE.md records the
results). Not part of CI; run: python tools/scale_smoke.py [factors...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import Window
from pyspark.sql import functions as F

from assignment_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.1"


def amplify(df, key_cols: list[str], n: int):
    """n logical copies with disjoint key spaces (keys re-based so joins
    and dedup stay meaningful)."""
    out = df.withColumn("_rep", F.explode(F.sequence(F.lit(0), F.lit(n - 1))))
    for k in key_cols:
        out = out.withColumn(k, F.col(k) + F.col("_rep") * F.lit(10_000_000))
    return out.drop("_rep")


def timed(label, df):
    t0 = time.perf_counter()
    n = df.count()
    dt = time.perf_counter() - t0
    return n, dt


def main() -> None:
    factors = [int(x) for x in sys.argv[1:]] or [1, 4, 16]
    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    li0 = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    o0 = spark.read.parquet(f"{SF_DIR}/orders.parquet")

    print(f"{'op':<28}{'factor':>7}{'rows_in':>12}{'sec':>8}{'Mrows/s':>9}")
    for n in factors:
        li = amplify(li0, ["l_orderkey"], n)
        orders = amplify(o0, ["o_orderkey", "o_custkey"], n)
        rows_in = 600_572 * n

        agg = li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_quantity"), F.avg("l_extendedprice"), F.count(F.lit(1))
        )
        _, dt = timed("hash_aggregate", agg)
        print(f"{'hash_aggregate':<28}{n:>7}{rows_in:>12}{dt:>8.2f}{rows_in/dt/1e6:>9.2f}")

        join = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)))
        )
        _, dt = timed("smj_join_agg", join)
        print(f"{'smj_join_agg':<28}{n:>7}{rows_in:>12}{dt:>8.2f}{rows_in/dt/1e6:>9.2f}")

        w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
        dedup = (
            li.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
        )
        _, dt = timed("window_keep_first", dedup)
        print(f"{'window_keep_first':<28}{n:>7}{rows_in:>12}{dt:>8.2f}{rows_in/dt/1e6:>9.2f}")


if __name__ == "__main__":
    main()
