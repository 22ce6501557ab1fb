"""Regenerate docs/PLANS.md: `explain("formatted")` snapshots for the
plan-shape-critical queries, with the properties each plan must exhibit.
Run: python tools/dump_plans.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry
from assignment_etl_spark.session import get_spark

SHOWCASE = {
    "pricing_summary": (
        "filter pushed to parquet (PushedFilters on l_shipdate), 7-column "
        "ReadSchema (pruning), partial+final HashAggregate, whole-stage codegen"
    ),
    "revenue_by_region": (
        "three BroadcastHashJoins (no SortMergeJoin, no shuffle for the "
        "joins), single Exchange for the final aggregation"
    ),
    "top_users_by_events": "TakeOrderedAndProject (no global Sort)",
    "top_orders_per_customer": "single Exchange + Window (rank) + Filter",
    "histogram_extendedprice": "bucket arithmetic inline in codegen, one Exchange over ≤30 keys",
    "unit_normalization": (
        "the staged F1 chain: regex primitives in their own Project, decision "
        "chain compiled (no interpreted fallback)"
    ),
    "weight_normalization": (
        "staged F2: base pass projected as named columns (no 64 KB codegen "
        "overrun), single partial+final aggregation over the reason keys"
    ),
    "skewed_agg_salted": (
        "TWO aggregation exchanges — (keys, salt) partial then keys merge — "
        "the salted two-phase shape; AQE coalesces the small stages"
    ),
    "hash_split_documents": (
        "split assignment is pure projection (no shuffle before the final "
        "count aggregation; no rand(), no sampling state)"
    ),
    "gopher_quality_flags": (
        "all flags from ONE documents scan — a single narrow Project feeding "
        "one partial+final aggregation on lang"
    ),
    "sole_returning_supplier": (
        "Q21 shape: LeftSemi then LeftAnti hash joins on the orderkey equi "
        "key with the suppkey inequality as join residual — never a nested "
        "loop; dims broadcast"
    ),
    "order_count_distribution": (
        "Q13 shape: the priority filter lives INSIDE the left-join "
        "condition (no post-join Filter node dropping 0-count customers); "
        "two aggregations, the second over a tiny key space"
    ),
    "segment_order_stats": (
        "NO Expand node: orders pre-aggregated per custkey BEFORE the "
        "customer join, countDistinct rewritten away"
    ),
    "scd2_point_in_time": (
        "point-in-time lookup as union + single Window per key — no "
        "BroadcastNestedLoopJoin / no interval theta join"
    ),
    "shuffle_head": "TakeOrderedAndProject over the salted hash (no global Sort for the probe)",
}


def main() -> None:
    spark = get_spark("plans", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    out = [
        "# PLANS — executed-plan snapshots (generated by tools/dump_plans.py)",
        "",
        "Physical plans at sf0.01 for the plan-shape-critical queries; the",
        "stated property of each is what the tests in tests/test_analytics.py",
        "and the SCALE.md design notes rely on.",
        "",
    ]
    for name, expectation in SHOWCASE.items():
        df = qs[name](spark, "/root/testdata/sf0.01")
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out += [
            f"## {name}",
            "",
            f"**Required shape:** {expectation}",
            "",
            "```",
            buf.getvalue().strip(),
            "```",
            "",
        ]
    with open(os.path.join(REPO, "docs/PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote docs/PLANS.md ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
