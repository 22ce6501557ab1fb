"""Dashboard-parity API: every query template the reference's Streamlit app
issues (/root/reference/interactive_dashboard.py), as engine functions any
front-end can call. The reference pulls whole tables into pandas and lets
plotly aggregate; here every widget is a pushed-down DataFrame query that
returns only render-sized results — the design that survives 100 TB tables.

| reference widget (file:line)                | function here          |
|---------------------------------------------|------------------------|
| table pick + head (36-42)                   | table_overview         |
| dtype-driven column pickers (47-49)         | classify_columns (P8)  |
| row count + bounds, once per table          | table_stats            |
| numeric histogram, 30 bins (67-70)          | numeric_histogram      |
| scatter w/ optional category color (72-93)  | scatter_sample         |
| records-over-time, 50 bins (98-110)         | records_over_time      |
| categorical top-k, slider 5-50 (114-121)    | top_categories         |
| quality: reason counts (134-135)            | quality_report         |
| quality: file × reason (147)                | quality_report         |
| quality: affected patients (159-177)        | quality_report         |
| quality: reason drilldown (180-186)         | quality_drilldown      |
| quality: CSV export (189-194)               | export_csv             |

The served dashboard and the static export take ``table_stats`` once per
table and pass its count and bounds on, so each widget is one aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from assignment_etl_spark.analytics.queries import (
    affected_entities,
    group_sizes,
    histogram_numeric,
    histogram_time,
    top_k,
    value_counts,
)

NUMERIC_TYPES = (T.IntegerType, T.LongType, T.DoubleType, T.FloatType, T.DecimalType, T.ShortType)
TIME_TYPES = (T.TimestampType, T.DateType, T.TimestampNTZType)


def classify_columns(df: DataFrame) -> dict[str, list[str]]:
    """P8: dtype-based column classification driving the widget pickers
    (reference select_dtypes at interactive_dashboard.py:47-49) — a
    driver-side schema walk, no job."""
    out: dict[str, list[str]] = {"numeric": [], "datetime": [], "categorical": []}
    for f in df.schema.fields:
        if isinstance(f.dataType, NUMERIC_TYPES):
            out["numeric"].append(f.name)
        elif isinstance(f.dataType, TIME_TYPES):
            out["datetime"].append(f.name)
        elif isinstance(f.dataType, (T.StringType, T.BooleanType)):
            out["categorical"].append(f.name)
    return out


def table_stats(df: DataFrame) -> dict:
    """One aggregation over the table: its row count, its column kinds
    (``classify_columns``) and the ``(min, max)`` bounds of each numeric
    column as double and each datetime column as epoch seconds — the
    bounds ``histogram_numeric`` and ``histogram_time`` would compute per
    call. A column with no non-NULL value has bounds ``(None, None)``."""
    kinds = classify_columns(df)
    exprs = [F.col(c).cast("double") for c in kinds["numeric"]]
    exprs += [F.unix_timestamp(F.col(c)).cast("double") for c in kinds["datetime"]]
    row = df.agg(
        F.count(F.lit(1)), *[agg(e) for e in exprs for agg in (F.min, F.max)]
    ).first()
    cols = kinds["numeric"] + kinds["datetime"]
    bounds = {c: (row[1 + 2 * i], row[2 + 2 * i]) for i, c in enumerate(cols)}
    return {"rows": row[0], "kinds": kinds, "bounds": bounds}


def table_overview(df: DataFrame, n: int = 5) -> tuple[DataFrame, dict[str, list[str]]]:
    """Head preview (P9) + column classification."""
    return df.limit(n), classify_columns(df)


numeric_histogram = histogram_numeric
records_over_time = histogram_time


def scatter_sample(
    df: DataFrame,
    x: str,
    y: str,
    color: str | None = None,
    *,
    max_points: int = 10_000,
    seed: int = 42,
    id_col: str | None = None,
    total_rows: int | None = None,
) -> DataFrame:
    """Render-sized scatter payload: the reference ships every row to
    plotly; at scale we downsample server-side.

    With ``id_col`` the sample is a deterministic hash filter on that key
    (portable_hash01 < max_points/total): the same rows come back on every
    run and on every engine with the same hash — replayable renders and an
    oracle-checkable contract. Without it, falls back to Spark's Bernoulli
    ``sample`` (seeded, but partition-layout-dependent). ``total_rows``
    skips the count job when the caller already has table stats.
    """
    from assignment_etl_spark.ext.sampling import portable_hash01

    cols = ([id_col] if id_col else []) + [x, y] + ([color] if color else [])
    total = total_rows if total_rows is not None else df.count()
    picked = df.select(*cols)
    if total <= max_points:
        return picked
    frac = max_points / total
    if id_col is not None:
        return picked.filter(portable_hash01(F.col(id_col), seed) < frac)
    return picked.sample(fraction=frac, seed=seed)


def top_categories(df: DataFrame, column: str, k: int = 20) -> DataFrame:
    if not 5 <= k <= 50:  # the reference's slider bounds (dashboard:117)
        raise ValueError("k must be in [5, 50]")
    return top_k(df, column, k)


def quality_report(logs_df: DataFrame, *, entity_file_token: str = "patient") -> dict:
    """The Data Quality tab in one call: reason histogram, file × reason
    matrix, and distinct affected entities from matching source files."""
    return {
        "reason_counts": value_counts(logs_df, "reason"),
        "file_reason_counts": group_sizes(logs_df, ["filename", "reason"]),
        "affected_entities": affected_entities(logs_df, filename_contains=entity_file_token),
    }


def quality_drilldown(logs_df: DataFrame, reason: str) -> DataFrame:
    """Reason drilldown filter (dashboard:180-186)."""
    return logs_df.filter(F.col("reason") == reason)


def export_csv(df: DataFrame, path: str, *, single_file: bool = True) -> None:
    """CSV export (dashboard:189-194). single_file mirrors the reference's
    one-blob download; at scale leave False for a parallel write."""
    writer = df.coalesce(1) if single_file else df
    writer.write.mode("overwrite").option("header", True).csv(path)
