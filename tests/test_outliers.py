"""Robust outliers: median/MAD math, MAD=0 groups, NULL handling."""

import pytest
from pyspark.sql import functions as F

from assignment_etl_spark import internals
from assignment_etl_spark.ops.outliers import flag_outliers, group_robust_stats


@pytest.fixture(scope="module")
def data(spark):
    rows = (
        [("a", float(x)) for x in [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000]]
        + [("b", 5.0)] * 10  # constant group: MAD = 0
        + [("c", None), ("c", 1.0), ("c", 2.0), ("c", 3.0)]
    )
    return spark.createDataFrame(rows, "g string, v double")


def test_stats(data):
    stats = {r.g: r for r in group_robust_stats(data, value_col="v", by=["g"]).collect()}
    assert stats["a"].median == 5.5
    assert stats["a"].mad == 2.5  # deviations 0.5..4.5 + 994.5; median 2.5
    assert stats["b"].mad == 0.0
    assert stats["c"].n == 3  # NULLs not counted


def test_flagging(data):
    out = flag_outliers(data, value_col="v", by=["g"], k=3.5)
    a = {r.v: r for r in out.filter("g = 'a'").collect()}
    assert a[1000.0].is_outlier
    assert not a[5.0].is_outlier
    # 1 is z = -4.5/(1.4826*2.5) = -1.21 -> inlier
    assert not a[1.0].is_outlier


def test_mad_zero_group_yields_null_not_verdict(data):
    b = flag_outliers(data, value_col="v", by=["g"]).filter("g = 'b'").collect()
    assert all(r.robust_z is None and r.is_outlier is None for r in b)


def test_null_value_not_flagged(data):
    c = flag_outliers(data, value_col="v", by=["g"]).filter("g = 'c' and v is null")
    r = c.first()
    assert r.robust_z is None and r.is_outlier is None


def test_broadcast_plan(data):
    out = flag_outliers(data, value_col="v", by=["g"])
    plan = internals.executed_plan_string(out)
    assert "BroadcastHashJoin" in plan


def test_approx_mode_runs(data):
    out = flag_outliers(data, value_col="v", by=["g"], exact=False)
    a = {r.v: r.is_outlier for r in out.filter("g = 'a'").collect()}
    assert a[1000.0]  # the gross outlier survives approximation


def test_null_group_key_rows_are_kept_and_flagged(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0)]
        + [(None, float(x)) for x in [1, 2, 3, 4, 5, 200]],
        "g string, v double",
    )
    out = flag_outliers(df, value_col="v", by=["g"], k=3.5)
    assert out.count() == 9  # annotation operator: no row loss
    nulls = {r.v: r.is_outlier for r in out.filter("g is null").collect()}
    assert nulls[200.0] is True  # NULL is a group of its own, stats apply
    assert nulls[3.0] is False


def test_winsorize_clips_tails(spark):
    from assignment_etl_spark.ops.outliers import winsorize

    rows = [("g", float(v)) for v in range(100)] + [("g", 1e9), ("g", -1e9)]
    df = spark.createDataFrame(rows, "grp string, x double")
    got = winsorize(df, value_col="x", by=["grp"], lower_q=0.05, upper_q=0.95)
    vals = [r.x_winsorized for r in got.collect()]
    assert max(vals) < 1e6 and min(vals) > -1e6
    assert len(vals) == 102  # no rows dropped
    # interior values untouched
    inner = {r.x: r.x_winsorized for r in got.collect() if 10 <= r.x <= 90}
    assert all(k == v for k, v in inner.items())


def test_winsorize_null_passthrough_and_groups(spark):
    from assignment_etl_spark.ops.outliers import winsorize

    rows = [("a", 1.0), ("a", 2.0), ("a", 100.0), ("b", 5.0), ("b", None)]
    df = spark.createDataFrame(rows, "grp string, x double")
    got = {(r.grp, r.x): r.x_winsorized for r in winsorize(
        df, value_col="x", by=["grp"], lower_q=0.0, upper_q=0.5
    ).collect()}
    assert got[("a", 100.0)] == 2.0  # clipped to group-a median
    assert got[("b", 5.0)] == 5.0
    assert got[("b", None)] is None


def test_iqr_outliers(spark):
    from assignment_etl_spark.ops.outliers import iqr_outliers

    vals = [float(v) for v in range(1, 12)] + [100.0, None]  # one extreme
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    r = iqr_outliers(df, value_col="v", by=["g"]).collect()[0]
    assert r.n_rows == 12                 # NULL excluded
    assert r.n_outliers == 1              # only the 100.0
    assert r.q1 < r.q3 and r.lo < r.q1 and r.hi > r.q3


def test_iqr_outliers_null_group_kept(spark):
    from assignment_etl_spark.ops.outliers import iqr_outliers

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0),
            (None, 10.0), (None, 11.0), (None, 12.0), (None, 13.0),
            (None, 500.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r.g: r for r in iqr_outliers(df, value_col="v", by=["g"]).collect()}
    assert None in out                      # NULL key is still a group
    assert out[None].n_rows == 5 and out[None].n_outliers == 1
