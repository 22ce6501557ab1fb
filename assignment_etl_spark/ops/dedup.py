"""Deterministic keep-first deduplication (D1-D3) as window functions.

pandas ``drop_duplicates(keep="first")`` keeps the first occurrence in file
order (/root/reference/etl.py:451-488,539-549,643-658). Plain Spark
``dropDuplicates`` keeps an *arbitrary* row — wrong. The engine's contract
(SURVEY §2.6/§4.3.1): every source attaches a stable ``_row_id`` at ingest
(before any shuffle); dedup is
``row_number() over (partition by keys order by _row_id) == 1``.

NULL keys: pandas ``duplicated`` treats NaN keys as equal to each other;
Spark window partitioning groups NULLs together too — semantics match.
Rounding helper keys use ``bround`` (half-even) to match numpy's rounding.

Scale: one shuffle per key-set; at 100 TB prefer a single composite pass or
pre-bucketed tables on the dedup key; AQE handles skewed key groups.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from assignment_etl_spark.ops.quality import KEEP, issue
from assignment_etl_spark.schemas import ROW_ID


def with_row_id(df: DataFrame) -> DataFrame:
    """Attach the source-order id. Valid immediately after a single ordered
    read (partition index rides the high bits, so ids are monotone in file
    order); must happen before any shuffle. Across files the order is the
    scan's partition order, the same for the CSV and the XML readers."""
    return df.withColumn(ROW_ID, F.monotonically_increasing_id())


def mark_duplicates(
    df: DataFrame, keys: list[str], order_col: str = ROW_ID
) -> DataFrame:
    """Add ``_rn`` (position in the key group in ``order_col`` order; 1 is
    the keep-first survivor) and ``_grp`` (size of the key group)."""
    w = Window.partitionBy(*keys).orderBy(order_col)
    return df.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_grp", F.count(F.lit(1)).over(Window.partitionBy(*keys))
    )


def duplicate_issue(
    keys: list[str],
    *,
    log_all_members: bool = False,
    filename_col=None,
    id_col: str = "patient_id",
    id_log_col: str = "patient_id",
    column_name: str | None = None,
    reason: str = "duplicate_removed",
    original_value_col=None,
) -> Column:
    """The duplicate log entry of a :func:`mark_duplicates` frame; the id
    lands in log column ``id_log_col``."""
    fires = (F.col("_grp") > 1) if log_all_members else (F.col("_rn") > 1)
    return issue(
        fires,
        **{id_log_col: F.col(id_col)},
        filename=filename_col,
        column_name=column_name or ",".join(keys),
        original_value=(
            original_value_col
            if original_value_col is not None
            else (F.col(keys[0]) if len(keys) == 1 else F.to_json(F.struct(*keys)))
        ),
        reason=reason,
    )


def mark_patient_duplicates(df: DataFrame) -> DataFrame:
    """D1's two marks (etl.py:430-490): ``_dup``, the duplicate_removed log
    mask, and ``_keep``, the survivor of the keep-first drops by id and then
    by person key (given_name, family_name, raw dob, round(height),
    round(weight)).

    Reference quirks reproduced exactly:
    - the person key uses the *raw dob string* ("12/31/1990" ≠ "1990-12-31")
      and half-even-rounded measurements;
    - the log mask is computed on the FULL frame (etl.py:451-460) while the
      drops run *sequentially* (id-dedup first, person-dedup on the
      survivors, etl.py:483-488) — so a person-dup of a row that was itself
      dropped as an id-dup is logged yet survives. Both marks come from
      first-``_row_id`` minima, so one window per key set serves both.
    """
    person_key = [
        F.col("given_name"),
        F.col("family_name"),
        F.col("dob"),
        F.bround(F.col("height_cm"), 0),
        F.bround(F.col("weight_kg"), 0),
    ]
    row = F.col(ROW_ID)
    w_person = Window.partitionBy(*person_key)
    marked = df.withColumn(
        "_id_first", row == F.min(row).over(Window.partitionBy("patient_id"))
    )
    first_id = F.col("_id_first")
    return marked.withColumns(
        {
            "_dup": ~first_id | (row != F.min(row).over(w_person)),
            KEEP: first_id
            & (row == F.min(F.when(first_id, row)).over(w_person)),
        }
    ).drop("_id_first")


def patient_dup_issue() -> Column:
    """D1's log entry over a :func:`mark_patient_duplicates` frame."""
    return issue(
        F.col("_dup"),
        patient_id=F.col("patient_id"),
        filename="patients.csv",
        column_name="duplicate_entry",
        original_value=F.to_json(
            F.struct("given_name", "family_name", "dob", "height_cm", "weight_kg")
        ),
        reason="duplicate_removed",
    )


def dedup_within_window(
    df: DataFrame,
    *,
    keys: list[str],
    ts_col: str,
    window_seconds: int,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Telemetry-style dedup: keep the FIRST event per key of every
    burst, where a burst ends once the gap since the previous kept-or-
    dropped event exceeds ``window_seconds`` (gap-based, so a retry
    storm that keeps re-firing inside the window collapses to one row
    no matter how long it lasts — the sessionization semantics, reused
    from ops/timeseries.sessionize with the key as the session scope).

    One shuffle on the key; pass ``order_cols`` with a unique
    tie-breaker for determinism under ts ties. Contrast mark_duplicates
    (exact-duplicate dedup, no time dimension).
    """
    from pyspark.sql.window import Window as _W

    from assignment_etl_spark.ops.timeseries import sessionize

    tagged = sessionize(
        df.withColumn("_k", F.concat_ws("\x1f", *keys)),
        user_col="_k",
        ts_col=ts_col,
        order_cols=order_cols,
        gap_seconds=window_seconds,
        out_col="_burst",
    )
    w = _W.partitionBy("_k", "_burst").orderBy(
        F.col(ts_col), *[F.col(c) for c in (order_cols or [])]
    )
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_k", "_burst", "_rn")
    )
