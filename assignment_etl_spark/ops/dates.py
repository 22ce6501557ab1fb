"""Date/timestamp parsing operators.

F5 parse_dob (/root/reference/etl.py:370-424), F6 parse_datetime_safe
(etl.py:512-536), F7 tz handling (etl.py:595-601), F8 duration
(etl.py:590-593), F9 ISO-with-fallback (etl.py:115-119).

The reference leans on pandas' format sniffing; the engine enumerates the
format lattice explicitly (SURVEY §7.4.3) as a ``coalesce`` chain —
year-first beats month-first beats day-first, mirroring the README's
"months before days" rule (reference README.md:55). pandas' sniffer accepts
unambiguous day-first strings ("31-12-1985") on the *first* attempt
(verified, SURVEY §2.5 F5), so day-first formats sit in the same lattice and
``day_month_swapped`` is — as in the reference with pandas ≥ 2 — effectively
unreachable; the reason constant remains part of the log vocabulary.

Timezone policy (documented deviation, SURVEY §1.3/§7.4.4): everything is a
UTC instant in ``TimestampType`` with session tz UTC. The reference's
"parse UTC then tz_localize(None)" produces naive UTC wall-times — the same
bytes we store, so values compare equal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from assignment_etl_spark.ops.quality import issue, issue_logs

# Date-only lattice for dob-style columns. Order = priority.
DATE_FORMATS = [
    "yyyy-M-d",
    "yyyy/M/d",
    "M/d/yyyy",  # US month-first wins for ambiguous slash dates
    "d-M-yyyy",  # dash dates in the wild are day-first (pandas sniffs these)
    "d/M/yyyy",  # reachable only when month-first is impossible (day > 12)
    "yyyy-M-d'T'HH:mm:ss",
    "MMMM d, yyyy",
]

# Datetime lattice for encounter-style columns (mixed tz offsets, US, day-first).
DATETIME_FORMATS = [
    "yyyy-M-d'T'HH:mm:ssXXX",
    "yyyy-M-d'T'HH:mm:ss",
    "yyyy-M-d HH:mm:ssXXX",
    "yyyy-M-d HH:mm:ss",
    "yyyy-M-d HH:mm",
    "yyyy/M/d HH:mm",
    "M/d/yyyy HH:mm",
    "M/d/yyyy H:mm",
    "d-M-yyyy HH:mm",
    "d-M-yyyy H:mm",
    "yyyy-M-d",
    "M/d/yyyy",
    "d-M-yyyy",
]


def _ts_preprocess(col: Column) -> Column:
    """Inputs may arrive already lowercased (the reference runs clean_utf8
    before parsing, etl.py:509→512; pandas parses "...t...z" fine, Java
    patterns don't) — re-uppercase the ISO 'T' separator and a trailing
    'z' offset before matching."""
    s = F.trim(col.cast("string"))
    s = F.regexp_replace(s, r"(?<=[0-9])t(?=[0-9])", "T")
    return F.regexp_replace(s, r"z$", "Z")


def parse_timestamp_multi(
    col: Column, formats: list[str], *, preprocessed: bool = False
) -> Column:
    """Try each format in priority order; NULL if none matches (non-ANSI).
    preprocessed=True skips the normalization (caller staged it — the
    preprocess would otherwise inline into every format attempt)."""
    s = col if preprocessed else _ts_preprocess(col)
    return F.coalesce(*[F.to_timestamp(s, f) for f in formats])


def dob_issue(parsed: Column) -> Column:
    """F5's log entry, given the parsed value of ``dob``.

    Blank or whitespace-only strings are non-null, so they log
    ``unparseable_date`` not ``missing_value`` — matching the verified
    reference behavior for patient P-0004 (SURVEY §2.5 F5).
    """
    raw = F.col("dob")
    reason = F.when(raw.isNull(), F.lit("missing_value")).when(
        parsed.isNull(), F.lit("unparseable_date")
    )
    return issue(
        reason.isNotNull(),
        patient_id=F.col("patient_id"),
        filename="patients.csv",
        column_name="dob",
        original_value=raw,
        reason=reason,
    )


def with_parsed_datetimes(df: DataFrame, columns: list[str]) -> DataFrame:
    """F6: UTC-normalizing timestamp parse over several columns, each
    column's log entry staged beside it as ``_<column>_issue``.

    Matches parse_datetime_safe (etl.py:512-536): NULL/blank input → NULL
    silently; non-blank unparseable → NULL + ``invalid_datetime_format``.
    The normalized string and the parse each get their own projection:
    inlined, the two regexp_replaces would re-run inside every
    to_timestamp attempt, and the 13-format lattice once per consumer.
    """
    out = df.withColumns({f"_{c}_pre": _ts_preprocess(F.col(c)) for c in columns})
    out = out.withColumns(
        {
            f"_{c}_ts": parse_timestamp_multi(
                F.col(f"_{c}_pre"), DATETIME_FORMATS, preprocessed=True
            )
            for c in columns
        }
    )
    staged = {}
    for c in columns:
        raw, parsed = F.col(c), F.col(f"_{c}_ts")
        blank = raw.isNull() | (F.col(f"_{c}_pre") == "")
        staged[f"_{c}_issue"] = issue(
            ~blank & parsed.isNull(),
            patient_id=F.col("patient_id"),
            filename="encounters.csv",
            column_name=c,
            original_value=raw,
            reason="invalid_datetime_format",
        )
        staged[c] = F.when(blank, F.lit(None)).otherwise(parsed)
    return out.withColumns(staged).drop(
        *[f"_{c}_{s}" for c in columns for s in ("pre", "ts")]
    )


def parse_datetime_columns(
    df: DataFrame, columns: list[str]
) -> tuple[DataFrame, DataFrame]:
    """F6 as a (clean, logs) pair — see :func:`with_parsed_datetimes`."""
    out = with_parsed_datetimes(df, columns)
    issues = [f"_{c}_issue" for c in columns]
    logs = issue_logs(out, *[F.col(i) for i in issues])
    return out.drop(*issues), logs


def parse_iso_with_midnight_fallback(col: Column) -> Column:
    """F9 (diagnoses.recorded_at): full ISO (offset, 'T', naive) via cast,
    date-only via midnight fallback — reference etl.py:115-119."""
    s = F.trim(col.cast("string"))
    return F.coalesce(
        s.cast("timestamp"),
        F.to_timestamp(F.concat(s, F.lit("T00:00:00"))),
    )


def duration_hours(start: Column, end: Column) -> Column:
    """F8: (end - start) in fractional hours; NULL-propagating like NaT."""
    return (end.cast("double") - start.cast("double")) / 3600.0
