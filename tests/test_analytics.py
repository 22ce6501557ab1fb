"""Analytics layer (A1-A8) + plan-shape assertions for the scale story."""

from pyspark.sql import functions as F

from assignment_etl_spark.analytics.queries import (
    affected_entities,
    bucketize,
    distinct_count,
    group_sizes,
    grouped_distinct_count,
    histogram_numeric,
    histogram_time,
    top_k,
    value_counts,
)
from assignment_etl_spark.internals import executed_plan_string


def test_value_counts_and_topk(spark):
    df = spark.createDataFrame(
        [(x,) for x in ["a"] * 5 + ["b"] * 3 + ["c"] * 3 + ["d"]], "k string"
    )
    vc = value_counts(df, "k").collect()
    assert [(r.k, r["count"]) for r in vc] == [("a", 5), ("b", 3), ("c", 3), ("d", 1)]
    tk = top_k(df, "k", 2).collect()
    assert [(r.k, r["count"]) for r in tk] == [("a", 5), ("b", 3)]


def test_topk_plans_take_ordered(spark):
    df = spark.range(1000).select((F.col("id") % 7).alias("k"))
    plan = executed_plan_string(top_k(df, "k", 3))
    assert "TakeOrderedAndProject" in plan  # no global sort for top-k


def test_render_sized_results_sort_without_range_exchange(spark):
    """value_counts and the histograms order their aggregated rows inside
    one partition: no range-partition sample or sort exchange."""
    df = spark.range(1000).select(
        (F.col("id") % 7).cast("string").alias("k"), F.col("id").cast("double").alias("v"),
        F.timestamp_seconds(F.col("id") * 3600).alias("t"),
    )
    for q in (value_counts(df, "k"), histogram_numeric(df, "v", 30),
              histogram_numeric(df, "v", 30, min_val=0.0, max_val=999.0),
              histogram_time(df, "t", 50)):
        plan = executed_plan_string(q).lower()
        assert "rangepartitioning" not in plan, plan
        assert "sort [" in plan
    rows = histogram_numeric(df, "v", 30).collect()
    assert [r.bucket for r in rows] == list(range(30))
    assert sum(r["count"] for r in rows) == 1000


def test_group_sizes_and_distinct(spark):
    df = spark.createDataFrame(
        [("f1", "r1", "p1"), ("f1", "r1", "p2"), ("f1", "r2", "p1"), ("f2", "r1", "p3")],
        "filename string, reason string, patient_id string",
    )
    gs = {(r.filename, r.reason): r["count"] for r in group_sizes(df, ["filename", "reason"]).collect()}
    assert gs == {("f1", "r1"): 2, ("f1", "r2"): 1, ("f2", "r1"): 1}
    assert distinct_count(df, "patient_id").first().distinct_count == 3
    gd = {r.filename: r.distinct_count for r in grouped_distinct_count(df, "filename", "patient_id").collect()}
    assert gd == {"f1": 2, "f2": 1}


def test_histogram_bounds_and_clamp(spark):
    df = spark.createDataFrame([(float(x),) for x in range(101)], "v double")
    h = {r.bucket: r["count"] for r in histogram_numeric(df, "v", 10).collect()}
    assert sum(h.values()) == 101
    assert h[9] == 11  # 90..100: the max value folds into the last bucket
    assert min(h) == 0 and max(h) == 9


def test_affected_entities_na_false_semantics(spark):
    df = spark.createDataFrame(
        [("patients.csv", "p1", "r1"), (None, "p2", "r1"), ("enc.csv", "p3", "r1"),
         ("PATIENTS.csv", "p1", "r2")],
        "filename string, patient_id string, reason string",
    )
    row = affected_entities(df).first()
    assert row.affected == 1  # NULL filename excluded (pandas na=False), case-insensitive
    assert row.entity_reason_pairs == 2
    # a NULL id is no entity; a NULL reason makes no (entity, reason) pair
    df = df.union(spark.createDataFrame(
        [("patients.csv", None, "r3"), ("patients.csv", "p4", None),
         ("patients.csv", "p1", None)],
        "filename string, patient_id string, reason string",
    ))
    assert affected_entities(df).first() == (2, 2)
    empty = affected_entities(df.limit(0))
    assert empty.first() == (0, 0)
    assert empty.schema.simpleString() == "struct<affected:bigint,entity_reason_pairs:bigint>"
    assert not any(f.nullable for f in empty.schema)


def test_parquet_pushdown(spark, sf_dir):
    """Filters and projections must reach the parquet scan."""
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = df.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    plan = executed_plan_string(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_broadcast_join_plan(spark, sf_dir):
    """Dimension joins must broadcast, not sort-merge."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    q = customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    plan = executed_plan_string(q)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_partial_aggregation_in_plan(spark, sf_dir):
    """groupBy must plan partial (map-side) + final hash aggregation."""
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = df.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = executed_plan_string(q)
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_bucketize_edges(spark):
    df = spark.createDataFrame([(0.0,), (50.0,), (100.0,)], "v double")
    got = [r.b for r in df.select(bucketize(F.col("v"), 0.0, 100.0, 10).alias("b")).collect()]
    assert got == [0, 5, 9]


def test_table_diff(spark):
    from assignment_etl_spark.analytics.queries import table_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None), (4, "d", 4.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", 2.0), (3, "c", None), (4, "D", 4.0), (5, "e", 5.0)],
        "k int, s string, v double",
    )
    got = {r.k: r.diff_status for r in table_diff(old, new, "k").collect()}
    assert got == {
        1: "removed",
        2: "unchanged",
        3: "unchanged",  # NULL == NULL under eqNullSafe — no false 'changed'
        4: "changed",
        5: "added",
    }


def test_profile_columns(spark):
    from assignment_etl_spark.analytics.queries import profile_columns

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (2, "y")], "k int, s string"
    )
    got = {r.column: r for r in profile_columns(df, ["k", "s"]).collect()}
    assert got["k"].n_rows == 3 and got["k"].n_null == 0 and got["k"].n_distinct == 2
    assert got["s"].n_null == 1 and got["s"].n_distinct == 2
    assert got["k"].min_value == "1" and got["k"].max_value == "2"


def test_cohort_retention(spark):
    from datetime import datetime

    from assignment_etl_spark.ops.funnel import cohort_retention

    # week of 2024-01-01 (Mon) and 2024-01-08; u1 retained, u2 churned,
    # u3 joins in week 2; duplicate same-week events collapse
    rows = [
        (1, datetime(2024, 1, 2)), (1, datetime(2024, 1, 3)),
        (1, datetime(2024, 1, 9)),
        (2, datetime(2024, 1, 4)),
        (3, datetime(2024, 1, 10)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        (str(r.cohort_week.date()), r.offset_weeks): (
            r.n_active, r.cohort_size, r.retention
        )
        for r in cohort_retention(df).collect()
    }
    assert out[("2024-01-01", 0)] == (2, 2, 1.0)
    assert out[("2024-01-01", 1)] == (1, 2, 0.5)
    assert out[("2024-01-08", 0)] == (1, 1, 1.0)
    assert len(out) == 3


def test_last_touch_attribution(spark):
    from datetime import datetime

    from assignment_etl_spark.ops.funnel import last_touch_attribution

    rows = [
        (1, 1, datetime(2024, 1, 1, 10), "click", 0.0),
        (1, 2, datetime(2024, 1, 1, 11), "purchase", 5.0),
        (1, 3, datetime(2024, 1, 1, 12), "view", 0.0),
        (1, 4, datetime(2024, 1, 1, 13), "purchase", 7.0),
        (2, 5, datetime(2024, 1, 1, 9), "purchase", 3.0),  # no prior touch
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string, value double"
    )
    out = {
        r.value: r.attributed_channel
        for r in last_touch_attribution(
            df,
            tie_break="event_id",
            is_conversion=F.col("event_type") == "purchase",
            is_touch=F.col("event_type").isin("click", "view"),
        ).collect()
    }
    assert out[5.0] == "click"
    assert out[7.0] == "view"   # most recent touch wins
    assert out[3.0] is None     # unattributed reported, not dropped


def test_impute_group_median(spark):
    from assignment_etl_spark.ops.repair import impute_group_median

    rows = [("a", 1.0), ("a", 3.0), ("a", None), ("b", None), ("b", 10.0),
            ("c", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = impute_group_median(df, value_col="v", by=["g"]).collect()
    a = sorted([r.v for r in out if r.g == "a"])
    assert a == [1.0, 2.0, 3.0]          # median of {1,3} = 2 interpolated
    assert {r.v for r in out if r.g == "b"} == {10.0}
    assert [r.v for r in out if r.g == "c"] == [None]   # all-NULL group stays
    assert sum(1 for r in out if r.imputed) == 2


def test_rfm_segments(spark):
    from datetime import datetime

    from assignment_etl_spark.ops.funnel import rfm_segments

    # 5 customers with strictly increasing recency/frequency/monetary
    rows = []
    for c in range(1, 6):
        for k in range(c):  # customer c has c orders
            rows.append((c, datetime(2024, 1, c), 100.0 * c))
    orders = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate timestamp, o_totalprice double"
    )
    out = {r.customer: r for r in rfm_segments(orders).collect()}
    # customer 5: most recent, most frequent, biggest spend -> all 5s
    assert out[5].segment == "555"
    assert out[1].segment == "111"
    assert out[3].recency_days == 2 and out[3].frequency == 3
    assert out[4].monetary == 1600.0
    # higher tile = better on every axis
    assert out[2].r < out[4].r and out[2].f < out[4].f and out[2].m < out[4].m


def test_rfm_tiles_match_ntile_exactly(spark):
    # the closed-form tile assignment must reproduce F.ntile bit-for-bit,
    # including the uneven split (N % n_tiles != 0) where the first
    # `extra` tiles hold one more row
    from datetime import datetime, timedelta

    from pyspark.sql.window import Window

    from assignment_etl_spark.ops.funnel import rfm_segments

    rows = []
    for c in range(1, 24):  # 23 customers: 23 % 5 = 3 uneven tiles
        for k in range((c * 7) % 4 + 1):
            rows.append(
                (c, datetime(2024, 1, 1) + timedelta(days=c % 9), float((c * 31) % 13) * 10)
            )
    orders = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate timestamp, o_totalprice double"
    )
    got = {r.customer: (r.r, r.f, r.m) for r in rfm_segments(orders).collect()}
    per = (
        orders.groupBy(F.col("o_custkey").alias("customer"))
        .agg(
            F.max("o_orderdate").alias("_last"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("o_totalprice").alias("monetary"),
        )
        .crossJoin(orders.agg(F.max("o_orderdate").alias("_asof")))
        .select(
            "customer",
            F.datediff("_asof", "_last").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    ref = {
        r.customer: (r.r, r.f, r.m)
        for r in per.select(
            "customer",
            F.ntile(5)
            .over(Window.orderBy(F.col("recency_days").desc(), F.col("customer")))
            .alias("r"),
            F.ntile(5)
            .over(Window.orderBy(F.col("frequency"), F.col("customer")))
            .alias("f"),
            F.ntile(5)
            .over(Window.orderBy(F.col("monetary"), F.col("customer")))
            .alias("m"),
        ).collect()
    }
    assert got == ref


def test_event_transitions(spark):
    from datetime import datetime

    from assignment_etl_spark.ops.funnel import event_transitions

    rows = [
        (1, 1, datetime(2024, 1, 1, 10), "a"),
        (1, 2, datetime(2024, 1, 1, 11), "b"),
        (1, 3, datetime(2024, 1, 1, 12), "a"),
        (1, 4, datetime(2024, 1, 1, 13), "c"),
        (2, 5, datetime(2024, 1, 1, 10), "a"),
        (2, 6, datetime(2024, 1, 1, 11), "b"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    out = {
        (r.from_type, r.to_type): (r.n, r.p)
        for r in event_transitions(df, tie_break="event_id").collect()
    }
    # from 'a': 2x ->b, 1x ->c; last event of each user emits nothing
    assert out[("a", "b")] == (2, round(2 / 3, 6))
    assert out[("a", "c")] == (1, round(1 / 3, 6))
    assert out[("b", "a")] == (1, 1.0)
    assert ("c", "a") not in out and len(out) == 3


def test_concentration_gini_hhi(spark):
    from assignment_etl_spark.analytics.queries import concentration

    rows = [("eq", i, 10.0) for i in range(4)]           # perfectly equal
    rows += [("dom", 0, 97.0)] + [("dom", i, 1.0) for i in (1, 2, 3)]
    df = spark.createDataFrame(rows, "g string, e long, v double")
    out = {
        r.g: r
        for r in concentration(
            df, by="g", entity_col="e", value_col="v"
        ).collect()
    }
    assert out["eq"].gini == 0.0 and out["eq"].hhi == 0.25  # 4 * (1/4)^2
    # one entity holds 97%: near-maximal concentration
    assert out["dom"].gini > 0.7 and out["dom"].hhi > 0.9
    assert out["dom"].n_entities == 4 and out["dom"].total_value == 100.0


def test_survival_curve_textbook(spark):
    from assignment_etl_spark.ops.funnel import survival_curve

    # classic KM: events at t=1 (1 of 5) and t=3 (1 of 3);
    # censored at t=2 and t=4; one subject survives past t=5 (censored)
    rows = [(1, 1), (2, 0), (3, 1), (4, 0), (5, 0)]
    df = spark.createDataFrame(rows, "t_dur long, churned int")
    out = {r.t: r for r in survival_curve(df, duration_col="t_dur", event_col="churned").collect()}
    assert set(out) == {1, 3}              # only event times appear
    assert out[1].n_risk == 5 and out[1].n_events == 1
    assert abs(out[1].survival - 0.8) < 1e-6
    assert out[3].n_risk == 3
    # S(3) = (1 - 1/5)(1 - 1/3) = 0.533333
    assert abs(out[3].survival - 0.8 * (2 / 3)) < 1e-4


def test_survival_curve_all_die(spark):
    from assignment_etl_spark.ops.funnel import survival_curve

    df = spark.createDataFrame([(1, 1), (1, 1), (2, 1)], "t_dur long, churned int")
    out = {r.t: r.survival for r in survival_curve(df, duration_col="t_dur", event_col="churned").collect()}
    assert abs(out[1] - 1 / 3) < 1e-6
    assert out[2] == 0.0                   # d == n pins the tail to exact 0


def test_lorenz_curve_monotone(spark):
    import __spark_entry__ as e

    out = e.q_lorenz_curve_orders(
        e.SparkSession.builder.getOrCreate(), "/root/testdata/sf0.001"
    ).collect()
    shares = [r.cum_value_share for r in out]
    assert shares == sorted(shares)            # Lorenz curve is monotone
    assert abs(shares[-1] - 1.0) < 1e-9        # ends at 100% of value
    # convexity (inequality): first decile's share below uniform 10%
    assert shares[0] < 0.1
    assert [r.decile for r in out] == list(range(1, 11))
