"""Plan shape of ``run_etl``: each source is scanned, normalized and
deduplicated once, in one tagged frame, and every log stream is a
projection of it (ops.quality).

The ``logs`` table is a union of one branch per source plus one per
orphan audit; no Python evaluation runs (F3 is a JVM expression and the
XML source is Spark's own reader); and the encounters text file is
scanned once for all four result tables. The plans are read before any
action, walking each cache's plan once (internals.physical_plan_nodes), so
a count here is the number of times the work runs when each cache is
built once.
"""

from __future__ import annotations

import pytest

from assignment_etl_spark import internals
from assignment_etl_spark.pipelines.runner import run_etl


def _cls(node) -> str:
    return internals.plan_node_class(node)


def _executed(df):
    return internals.query_execution(df).executedPlan()


@pytest.fixture
def etl(spark, fixture_dir):
    # one run per test: conftest releases the run's caches after each
    # test, and a plan built after that release would not read them
    return run_etl(
        spark,
        str(fixture_dir / "patients.csv"),
        str(fixture_dir / "encounters.csv"),
        str(fixture_dir / "diagnoses.xml"),
        ri_audit=True,
    )


def _logs_union(etl):
    """The Union in the logs table's plan, its caches as leaves."""
    nodes = internals.physical_plan_nodes(_executed(etl.logs))
    (union,) = [n for n in nodes if _cls(n) == "UnionExec"]
    return union


def test_logs_union_has_one_branch_per_stream(etl):
    union = _logs_union(etl)
    # patients, encounters, diagnoses, orphan patient_id, orphan encounter_id
    assert len(internals.plan_children(union)) == 5


def _all_nodes(etl):
    """Every node of the four result tables' plans, each cache walked once."""
    seen: set[int] = set()
    return [
        n
        for df in etl.tables().values()
        for n in internals.physical_plan_nodes(_executed(df), seen)
    ]


def test_no_python_node_in_run_etl(etl):
    classes = [_cls(n) for n in _all_nodes(etl)]
    for python_eval in (
        "ArrowEvalPythonExec", "BatchEvalPythonExec", "FlatMapGroupsInPandasExec"
    ):
        assert python_eval not in classes
    assert classes.count("MapInPandasExec") == 0


def test_encounters_file_scanned_once(etl):
    scans = [
        n
        for n in _all_nodes(etl)
        if _cls(n) == "FileSourceScanExec" and "encounters.csv" in str(n.toString())
    ]
    assert len(scans) == 1
