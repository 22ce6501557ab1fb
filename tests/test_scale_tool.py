"""tools/scale.py: each point's rows are the gate's own count, every repeat
starts cache-cold, and a ``--heap`` child run completes."""

import json
import os
import subprocess
import sys

import __spark_entry__ as entry
from assignment_etl_spark import internals
from assignment_etl_spark.caching import scoped_cache_count
from tools import scale

# part_value_concentration registers a scoped_persist: without a cold step
# between repeats, its second repeat would start with that cache alive.
NAMES = ["pricing_summary", "top_orders_per_customer", "part_value_concentration"]


def test_every_repeat_starts_cache_cold(spark, sf_dir):
    dirs = [sf_dir, os.path.join(os.path.dirname(sf_dir), "sf0.01")]
    gates = entry.queries()
    starts = []

    def observed(name):
        def fn(spark, d):
            starts.append((name, d, scoped_cache_count(),
                           internals.cache_manager_is_empty(spark),
                           len(internals.persistent_rdd_ids(spark))))
            return gates[name](spark, d)
        return fn

    recs = list(scale.sweep(spark, {n: observed(n) for n in NAMES}, NAMES, dirs, 2))

    assert [(r["query"], r["dir"], r["status"]) for r in recs] == [
        (n, d, "ok") for n in NAMES for d in dirs
    ]
    assert [s[:2] for s in starts] == [(n, d) for n in NAMES for d in dirs for _ in range(2)]
    assert [s[2:] for s in starts] == [(0, True, 0)] * len(starts), starts
    # the sweep leaves the session as cold as it found it
    assert scoped_cache_count() == 0 and internals.cache_manager_is_empty(spark)
    for r in recs:
        assert r["rows"] == gates[r["query"]](spark, r["dir"]).count(), r
        assert r["jobs"] >= 1 and r["stages"] >= 1, r
        assert len(r["runs_s"]) == 2 and r["total_s"] == min(r["runs_s"]), r


def test_heap_run_reports_ok(spark, sf_dir, capsys):
    rc = scale.main([sf_dir, "-q", "pricing_summary", "--repeats", "1", "--heap", "1g"])
    out = capsys.readouterr().out
    recs = [json.loads(line) for line in out.splitlines() if line.startswith("{")]
    assert rc == 0, out
    assert [(r["query"], r["status"]) for r in recs] == [("pricing_summary", "ok")]
    assert recs[0]["rows"] == entry.queries()["pricing_summary"](spark, sf_dir).count()
    # the child's session has the UI on, so its stage memory is reported
    assert recs[0]["peak_exec_mb"] is not None and recs[0]["disk_spill_mb"] is not None
    assert "| `pricing_summary` | " in out


# One run in a fresh process with the UI on: its stages are all the run's.
_SAME_RUN = """
import json, sys
from tools import scale
spark = scale.ui_session()
rec = scale.run_once(spark, sys.argv[1], scale.entry.queries()[sys.argv[1]], sys.argv[2])
stages = scale._rest(spark.sparkContext, "stages")
summed = max(s.get("peakExecutionMemory", 0) for s in stages) / 2.0**20
print(json.dumps({"peak_exec_mb": rec["peak_exec_mb"], "stage_summed_mb": round(summed, 1)}))
"""


def test_peak_exec_is_one_task_not_a_stage_sum(sf_dir):
    """``peak_exec_mb`` is the largest single task's peak: it cannot exceed
    the largest stage's ``peakExecutionMemory``, which Spark sums over the
    stage's tasks, and part_value_concentration's aggregations run several
    tasks that each take execution memory, so it is below it."""
    p = subprocess.run(
        [sys.executable, "-c", _SAME_RUN, "part_value_concentration", sf_dir],
        capture_output=True, text=True, cwd=scale.REPO, timeout=600,
        env=dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g"),
    )
    assert p.returncode == 0, p.stderr[-2000:]
    got = json.loads(p.stdout.strip().splitlines()[-1])
    assert 0 < got["peak_exec_mb"] < got["stage_summed_mb"], got
