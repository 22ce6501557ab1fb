"""The audit-log dataflow: issue entries, tagged frames and the log union.

Reference mechanism: a module-global ``logs: list[dict]`` mutated from inside
the row-functions of every cleaning operator and materialized once at the end
(/root/reference/etl.py:664,694,719). That is driver-side mutable state —
impossible on executors. The engine's redesign (SURVEY §2.9): every rule is
a condition plus the log row it writes, expressed as one Column —
:func:`issue` gives ``struct<LOG_COLUMNS>`` when the rule fires, else NULL.
A pipeline tags each row once with every rule that fired on it
(:func:`tag_issues` → an ``_issues: array<struct<LOG_COLUMNS>>`` column
beside the cleaned values), and the log stream is that column exploded
(:func:`issue_logs`). The clean table and the log stream are two narrow
projections of ONE tagged frame, so the pipelines persist that frame and
scan, parse and dedup each source once. All log streams share one fixed
superset schema (schemas.LOG_SCHEMA) and union via
``unionByName(allowMissingColumns=True)``, which reproduces pandas'
union-of-keys semantics deterministically.

Each rule has this one form: the ``ops`` modules export its value Column
(or staged operator) and its issue Column (``sex_issue``, ``dob_issue``,
``duplicate_issue``, ...). The one (clean, logs) DataFrame pair left,
``dates.parse_datetime_columns``, wraps ``with_parsed_datetimes`` for the
per-layer trace of ``perfbench/tracing.py``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

from assignment_etl_spark.caching import scoped_persist
from assignment_etl_spark.ops.strings import normalize_strings
from assignment_etl_spark.schemas import LOG_COLUMNS, LOG_SCHEMA


ISSUES = "_issues"
KEEP = "_keep"


def _log_struct(cols: dict[str, Column | str]) -> Column:
    """``struct<LOG_COLUMNS>`` of ``cols``, unmentioned columns NULL. One
    struct-level cast types and names every field, as one Column call
    instead of a cast and an alias per field."""
    unknown = set(cols) - set(LOG_COLUMNS)
    if unknown:
        raise ValueError(f"not log columns: {sorted(unknown)}")
    null = F.lit(None)
    fields = [cols.get(c, null) for c in LOG_COLUMNS]
    return F.struct(
        *[v if isinstance(v, Column) else F.lit(v) for v in fields]
    ).cast(LOG_SCHEMA)


def log_frame(df: DataFrame, **cols: Column | str) -> DataFrame:
    """Project ``df`` onto the fixed LOG_SCHEMA.

    ``cols`` maps log-column name -> Column expression or literal string;
    unmentioned log columns become NULL strings. This is the engine's
    equivalent of the reference appending a dict with a site-specific
    keyset (etl.py:297-304).
    """
    return df.select(_log_struct(cols).alias("_log")).select("_log.*")


def issue(fires: Column, **cols: Column | str) -> Column:
    """One rule's log entry for the current row: ``struct<LOG_COLUMNS>``
    (``cols`` as in :func:`log_frame`) when ``fires`` is true, else NULL."""
    return F.when(fires, _log_struct(cols))


def tag_issues(*issues: Column) -> Column:
    """The entries of ``issues`` that fired on this row, in rule order."""
    return F.filter(F.array(*issues), lambda x: x.isNotNull())


def issue_logs(df: DataFrame, *issues: Column) -> DataFrame:
    """The log stream of a tagged frame: one row per fired entry of its
    ``_issues`` column — or, given ``issues``, of those entries."""
    return df.select(F.inline(tag_issues(*issues) if issues else F.col(ISSUES)))


def empty_logs(spark) -> DataFrame:
    return spark.createDataFrame([], LOG_SCHEMA)


def union_logs(*logs: DataFrame) -> DataFrame:
    """Union heterogeneous log batches (pandas union-of-keys, made explicit)."""
    frames = [lg for lg in logs if lg is not None]
    if not frames:
        raise ValueError("no log frames")
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
    ).select(*LOG_COLUMNS)


def tagged_outputs(
    tagged: DataFrame,
    schema: StructType,
    *,
    persist: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(clean table, log stream) of a tagged frame: the ``schema`` columns
    of the rows whose ``_keep`` holds, and the exploded ``_issues``, each
    F3-normalized in one pass. ``persist`` caches the tagged frame — the
    shared base of both outputs — under caching.scoped_persist, so the
    source is scanned, parsed and deduplicated once however many actions
    consume them."""
    if persist:
        tagged = scoped_persist(tagged)
    clean = tagged.filter(F.col(KEEP)).select(*schema.fieldNames())
    strings = [f.name for f in schema.fields if isinstance(f.dataType, StringType)]
    return (
        normalize_strings(clean, strings),
        normalize_strings(issue_logs(tagged), LOG_COLUMNS),
    )


def orphan_check(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    *,
    filename: str,
    id_col: str | None = None,
) -> DataFrame:
    """Referential-integrity audit the reference lacks (SURVEY §2.3).

    Returns a log stream of child rows whose key has no match in parent
    (left_anti join — broadcast when the parent is dimension-sized). The
    reference lets orphans flow through silently (verified: enc-000106 /
    p-0999 lands in the final table); the engine keeps that behavior for the
    data but reports the orphans to the logs table.
    """
    keys = parent.select(F.col(parent_key).alias(child_key)).distinct()
    orphans = child.join(F.broadcast(keys), on=child_key, how="left_anti")
    return log_frame(
        orphans,
        patient_id=F.col(id_col) if id_col else F.col(child_key),
        filename=F.lit(filename),
        column_name=F.lit(child_key),
        original_value=F.col(child_key),
        reason=F.lit("orphan_" + child_key),
    )


def fk_graph_audit(
    edges: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Whole-schema referential-integrity audit: one row per FK edge
    (name, child_df, child_key, parent_df, parent_key) with child row
    count, orphan count (non-null keys missing from the parent), and
    null-key count (NULL FKs don't violate RI in SQL semantics — they
    are reported separately, not as orphans). Each edge is one
    broadcast-dim left join + aggregate; the per-edge results union
    into the audit table a schema owner reviews per ingest."""
    from functools import reduce

    outs = []
    for name, child, ck, parent, pk in edges:
        keyed = (
            parent.select(F.col(pk).alias("_k"))
            .distinct()
            .withColumn("_hit", F.lit(1))
        )
        j = child.select(F.col(ck).alias("_k")).join(
            F.broadcast(keyed), on="_k", how="left"
        )
        outs.append(
            j.agg(
                F.lit(name).alias("edge"),
                F.count(F.lit(1)).alias("n_child"),
                F.sum(
                    F.when(
                        F.col("_k").isNotNull() & F.col("_hit").isNull(), 1
                    ).otherwise(0)
                ).alias("n_orphans"),
                F.sum(F.when(F.col("_k").isNull(), 1).otherwise(0)).alias(
                    "n_null_keys"
                ),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs)
