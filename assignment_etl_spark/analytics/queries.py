"""Composable analytics operators (A1-A8, SURVEY §2.4).

Each function re-expresses one of the reference dashboard's query templates
(/root/reference/interactive_dashboard.py) as a lazy DataFrame query so any
front-end can call them; Catalyst plans partial+final aggregation, and top-k
compiles to TakeOrderedAndProject (no global sort).

Scale notes: value_counts/top_k shuffle once on the group key (map-side
partial agg first); distinct_count offers approx_count_distinct for the
100 TB path; a histogram is one aggregation (bucket = arithmetic) once its
bounds are known. Render-sized results (value_counts, the histograms) sort
inside one partition: no range-partition sample or sort exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def value_counts(df: DataFrame, column: str) -> DataFrame:
    """A1: group-count sorted by frequency (dashboard reason histogram,
    interactive_dashboard.py:134-135)."""
    return (
        df.groupBy(column)
        .agg(F.count(F.lit(1)).alias("count"))
        .coalesce(1)
        .sortWithinPartitions(F.desc("count"), F.col(column))
    )


def top_k(df: DataFrame, column: str, k: int) -> DataFrame:
    """A2: top-k most frequent values (value_counts().nlargest(n),
    interactive_dashboard.py:117-119). Plans as TakeOrderedAndProject."""
    return (
        df.groupBy(column)
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.col(column))
        .limit(k)
    )


def group_sizes(df: DataFrame, columns: list[str]) -> DataFrame:
    """A3: multi-key group size (groupby([...]).size(),
    interactive_dashboard.py:147)."""
    return df.groupBy(*columns).agg(F.count(F.lit(1)).alias("count"))


def distinct_count(df: DataFrame, column: str, *, approx: bool = False) -> DataFrame:
    """A4: distinct count (nunique, interactive_dashboard.py:164).
    approx=True swaps in HyperLogLog++ for the at-scale path."""
    agg = (
        F.approx_count_distinct(column) if approx else F.countDistinct(column)
    ).alias("distinct_count")
    return df.agg(agg)


def grouped_distinct_count(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """A5: distinct count per group (interactive_dashboard.py:166-168)."""
    return df.groupBy(group_col).agg(
        F.countDistinct(value_col).alias("distinct_count")
    )


def bucketize(col: Column, min_val: float, max_val: float, nbins: int) -> Column:
    """Equal-width bucket index in [0, nbins-1]; values at max fold into the
    last bucket. The arithmetic is kept to plain IEEE double ops so an
    external oracle evaluating the same expression gets identical buckets."""
    width = (F.lit(float(max_val)) - F.lit(float(min_val))) / F.lit(float(nbins))
    idx = F.floor((col.cast("double") - F.lit(float(min_val))) / width)
    return F.least(F.greatest(idx, F.lit(0)), F.lit(nbins - 1)).cast("bigint")


def _histogram(
    df: DataFrame, column: str, value: Column, nbins: int, lo: float | None, hi: float | None
) -> DataFrame:
    """Equal-width bucket counts of ``value`` over the rows where
    ``column`` is not NULL, ordered by bucket. Bounds not given come from a
    first min/max pass; the dashboard passes them from its table stats
    (dashboard.table_stats) instead."""
    if lo is None or hi is None:
        mn, mx = df.agg(F.min(value), F.max(value)).first()
        lo, hi = (mn if lo is None else lo), (mx if hi is None else hi)
    return (
        df.filter(F.col(column).isNotNull())
        .groupBy(bucketize(value, lo, hi, nbins).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("count"))
        .coalesce(1)
        .sortWithinPartitions("bucket")
    )


def histogram_numeric(
    df: DataFrame,
    column: str,
    nbins: int = 30,
    *,
    min_val: float | None = None,
    max_val: float | None = None,
) -> DataFrame:
    """A6: equal-width histogram (px.histogram nbins,
    interactive_dashboard.py:69)."""
    return _histogram(df, column, F.col(column).cast("double"), nbins, min_val, max_val)


def histogram_time(
    df: DataFrame,
    ts_column: str,
    nbins: int = 50,
    *,
    min_ts: float | None = None,
    max_ts: float | None = None,
) -> DataFrame:
    """A6 time variant: records-over-time histogram
    (interactive_dashboard.py:98-110) over epoch seconds."""
    epoch = F.unix_timestamp(F.col(ts_column)).cast("double")
    return _histogram(df, ts_column, epoch, nbins, min_ts, max_ts)


def affected_entities(
    logs_df: DataFrame, *, filename_contains: str = "patient", id_col: str = "patient_id"
) -> DataFrame:
    """Distinct entities with ≥1 issue from matching files
    (interactive_dashboard.py:159-177): string-contains filter (P7, na=False
    semantics via the isNotNull guard) + distinct counts.

    Both counts come from one shuffle on the id: the per-id distinct
    reasons (NULL reasons not counted, as ``countDistinct(id, reason)``
    skips them) sum to the pair count, and the per-id rows count the
    ids. Two ``countDistinct`` aggregates would plan an Expand and a
    job more."""
    per_id = (
        logs_df.filter(
            F.col("filename").isNotNull()
            & F.lower(F.col("filename")).contains(filename_contains.lower())
            & F.col(id_col).isNotNull()
        )
        .repartition(id_col)
        .groupBy(id_col)
        .agg(F.countDistinct("reason").alias("_reasons"))
    )
    return per_id.coalesce(1).agg(
        F.count(F.lit(1)).alias("affected"),
        F.coalesce(F.sum("_reasons"), F.lit(0)).alias("entity_reason_pairs"),
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key: str | list[str],
    *,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Snapshot diff (the CDC primitive a copy-on-write store needs):
    classify every key as added / removed / changed / unchanged via ONE
    full-outer join on the key — no collect, no per-column passes.
    ``compare_cols`` defaults to all shared non-key columns; change
    detection is null-safe (<=> semantics)."""
    keys = [key] if isinstance(key, str) else list(key)
    if compare_cols is None:
        compare_cols = [
            c for c in old.columns if c in set(new.columns) and c not in keys
        ]
    o = old.select(*keys, F.struct(*compare_cols).alias("_old"), F.lit(1).alias("_in_old"))
    n = new.select(*keys, F.struct(*compare_cols).alias("_new"), F.lit(1).alias("_in_new"))
    j = o.join(n, on=keys, how="full_outer")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("_old").eqNullSafe(F.col("_new")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(*keys, status.alias("diff_status"))


def profile_columns(
    df: DataFrame, columns: list[str], *, approx: bool = False
) -> DataFrame:
    """Tidy per-column profile (one row per column): count, nulls,
    distinct, min/max as strings. ONE aggregation pass over the scan —
    the summary a pipeline health check reads before trusting a feed.

    ``approx=True`` swaps exact distinct counts for HLL++ sketches: exact
    multi-column countDistinct plans an Expand (row duplicated per
    profiled column before the shuffle) — fine for the gate, wrong cost at
    100 TB; the sketch version stays one unexpanded pass."""
    aggs = []
    distinct = F.approx_count_distinct if approx else F.countDistinct
    for c in columns:
        col = F.col(c)
        aggs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(col.isNull().cast("long")).alias("n_null"),
                distinct(col).alias("n_distinct"),
                F.min(col).cast("string").alias("min_value"),
                F.max(col).cast("string").alias("max_value"),
            ).alias(f"_p_{c}")
        )
    wide = df.agg(*aggs)
    stacked = wide.select(
        F.explode(F.array(*[F.col(f"_p_{c}") for c in columns])).alias("p")
    )
    return stacked.select("p.*")


def concentration(
    df: DataFrame,
    *,
    by: str,
    entity_col: str,
    value_col: str,
    decimal_scale: int = 4,
    round_to: int = 6,
) -> DataFrame:
    """Market-concentration metrics per group: the Herfindahl–Hirschman
    index (Σ share², share = entity value / group total) and the Gini
    coefficient via the rank formula

        G = (2·Σ rank·v) / (n·Σv) − (n + 1)/n

    over entity totals ranked ascending (ties broken by the entity key,
    so the rank sum — and therefore G — is engine-replayable).

    Spark shape: one (group, entity) hash aggregate with decimal sums,
    one rank window per group over the AGGREGATED table (rows = entity
    count, not the fact table), one group aggregate. The per-entity
    share is exact decimal/decimal in double. Groups with a zero total
    report NULL metrics.

    Reference parity note: the reference's analytics layer has value
    histograms only; concentration is the next question an analyst asks
    of the same tables ("how dominated is this segment?").
    """
    from pyspark.sql.window import Window

    dec = f"decimal(28,{decimal_scale})"
    per = df.groupBy(F.col(by), F.col(entity_col)).agg(
        F.sum(F.col(value_col).cast(dec)).alias("_v")
    )
    # an entity with only NULL values has no share: drop it BEFORE
    # ranking (NULLS FIRST here vs NULLS LAST in SQL engines would shift
    # every rank, and n would disagree with the sums)
    per = per.filter(F.col("_v").isNotNull())
    w = Window.partitionBy(by).orderBy(F.col("_v"), F.col(entity_col))
    ranked = per.withColumn("_rk", F.row_number().over(w))
    # rank-product and value² terms: ONE double product per row (exact,
    # deterministic), rounded, then decimal-summed — a float SUM here
    # would be partition-order-dependent, and a decimal×decimal product
    # would hit Spark's precision-loss rescale (38,8 → 38,6), silently
    # rounding small squares to zero
    vd = F.col("_v").cast("double")
    sq = 2 * decimal_scale
    tot = ranked.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_entities"),
        F.sum("_v").alias("_tot"),
        F.sum(
            F.round(vd * F.col("_rk"), decimal_scale).cast(
                f"decimal(38,{decimal_scale})"
            )
        )
        .cast("double")
        .alias("_rv"),
        F.sum(F.round(vd * vd, sq).cast(f"decimal(38,{sq})"))
        .cast("double")
        .alias("_vv"),
    )
    t = F.col("_tot").cast("double")
    n = F.col("n_entities").cast("double")
    gini = (F.lit(2.0) * F.col("_rv")) / (n * t) - (n + 1.0) / n
    hhi = F.col("_vv") / (t * t)
    return tot.select(
        F.col(by),
        "n_entities",
        F.round(t, decimal_scale).alias("total_value"),
        F.when(t > 0, F.round(gini, round_to)).alias("gini"),
        F.when(t > 0, F.round(hhi, round_to)).alias("hhi"),
    )
