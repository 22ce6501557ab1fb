"""S3: namespaced-XML source on Spark's built-in ``xml`` reader.

Reference (parse_diagnoses_to_df, /root/reference/etl.py:97-132) walks
``<Diagnoses xmlns="http://example.org/diagnosis">`` with ElementTree on the
driver. Engine design: one ``spark.read.format("xml")`` scan, one task per
file, with ``rowTag=record_tag`` and an explicit schema (no inference
pass); no Python worker runs.

The record shape is generic: pass ``fields`` mapping output column ->
(child element, attribute-or-None). recorded_at stays a raw string here;
timestamp semantics (ISO + midnight fallback, F9) are applied by the
pipeline so the parse lattice lives in one place.

Supported subset, read as ElementTree's ``iter(record)``/``find(child)``
reads it: entities, character references and CDATA; whitespace-only and
surrounding-space text; an empty child (``<isPrimary/>``), a missing child
or a missing attribute as NULL; unmatched and foreign-prefixed children
ignored. Raised, never reshaped: a child repeated in a record (read as an
array to see it), a record nested directly in a record, a malformed record.

Divergences left (tests/test_xml_differential.py pins the native result):
- mixed content ``<code>E1<b>x</b>tail</code>`` reads as the raw inner XML
  (``tail`` for a child with a read attribute), ElementTree gives ``E1``;
- names match by their written form, not their namespace: a child whose
  prefix is bound to the record namespace (``<d:code>``) reads NULL, a
  child redeclaring a foreign default namespace is read, and a prefixed
  record tag is not found;
- whitespace-only text of a child with a read attribute reads NULL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from assignment_etl_spark.ops.dedup import with_row_id

# output column -> (tag, attribute-or-None)
DIAGNOSIS_FIELDS: dict[str, tuple[str, str | None]] = {
    "encounter_id": ("encounterId", None),
    "code": ("code", None),
    "code_system": ("code", "system"),
    "is_primary_raw": ("isPrimary", None),
    "recorded_at_raw": ("recordedAt", None),
}


def read_xml_records(
    spark: SparkSession,
    path: str,
    *,
    record_tag: str,
    fields: dict[str, tuple[str, str | None]],
) -> DataFrame:
    """Shred XML file(s) into one DataFrame row per ``record_tag`` element.

    All output columns are strings (typed casts are downstream operators);
    ``_row_id`` preserves document order for the keep-first dedup contract
    (ops.dedup.with_row_id).
    """
    attrs: dict[str, set[str]] = {}
    for tag, attr in fields.values():
        attrs.setdefault(tag, set()).update([attr] if attr else [])
    # each child an array of strings, or of _VALUE/_<attr> structs; the
    # record tag as a child is non-NULL only for a nested record
    def child(names: set[str]) -> str:
        cols = [f"`_{a}`: string" for a in ["VALUE", *sorted(names)]]
        return f"struct<{', '.join(cols)}>" if names else "string"

    schema = ", ".join(
        [f"`{t}` array<{child(n)}>" for t, n in attrs.items()]
        + [f"`{record_tag}` string"]
    )
    raw = (
        spark.read.format("xml")
        .option("rowTag", record_tag)
        .option("ignoreSurroundingSpaces", False)
        .option("mode", "FAILFAST")
        .schema(schema)
        .load(path)
    )
    bad = F.when(F.col(record_tag).isNotNull(), f"<{record_tag}> nested in a record")
    for tag in attrs:
        bad = bad.when(F.size(tag) > 1, f"<{tag}> repeated in a record")
    # a filter is never pruned, so the checks run whatever the consumer
    # projects; it keeps every row or fails the scan
    raw = raw.filter(F.when(bad.isNull(), True).otherwise(F.raise_error(
        F.concat(F.lit("unsupported XML: "), bad, F.lit(" in "), F.input_file_name())
    )))

    def column(tag: str, attr: str | None):
        el = F.col(tag)[0]
        if attr:
            return el[f"_{attr}"]
        return F.nullif(el["_VALUE"] if attrs[tag] else el, F.lit(""))

    return with_row_id(
        raw.select(*[column(t, a).alias(name) for name, (t, a) in fields.items()])
    )


def read_diagnoses_xml(spark: SparkSession, path: str) -> DataFrame:
    """The reference's diagnosis feed: 5 fields incl. the ``system``
    attribute of ``<code>`` (etl.py:106-107)."""
    return read_xml_records(
        spark, path, record_tag="Diagnosis", fields=DIAGNOSIS_FIELDS
    )
