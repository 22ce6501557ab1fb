"""S3: namespaced-XML source (no external spark-xml dependency).

Reference (parse_diagnoses_to_df, /root/reference/etl.py:97-132) walks
``<Diagnoses xmlns="http://example.org/diagnosis">`` with ElementTree on the
driver. Engine design: ``spark.read.text(wholetext=True)`` gives one row per
file; an Arrow-batched ``mapInPandas`` shreds each document into typed
records — so a directory of thousands of XML files parses in parallel, one
task per file split, nothing on the driver.

The record shape is generic: pass ``fields`` mapping output column ->
(child element | "@attribute" on a child). recorded_at stays a raw string
here; timestamp semantics (ISO + midnight fallback, F9) are applied by the
pipeline so the parse lattice lives in one place.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from assignment_etl_spark.ops.dedup import with_row_id

DIAGNOSIS_NS = "http://example.org/diagnosis"

# output column -> (tag, attribute-or-None)
DIAGNOSIS_FIELDS: dict[str, tuple[str, str | None]] = {
    "encounter_id": ("encounterId", None),
    "code": ("code", None),
    "code_system": ("code", "system"),
    "is_primary_raw": ("isPrimary", None),
    "recorded_at_raw": ("recordedAt", None),
}


def _shred_schema(fields: dict[str, tuple[str, str | None]]) -> T.StructType:
    cols = [T.StructField(name, T.StringType()) for name in fields]
    cols.append(T.StructField("_row_id", T.LongType()))
    return T.StructType(cols)


def read_xml_records(
    spark: SparkSession,
    path: str,
    *,
    record_tag: str,
    namespace: str | None = None,
    fields: dict[str, tuple[str, str | None]],
) -> DataFrame:
    """Shred XML file(s) into one DataFrame row per ``record_tag`` element.

    All output columns are strings (typed casts are downstream operators);
    ``_row_id`` preserves document order for the keep-first dedup contract
    (file ordinal in the high bits, record ordinal in the low bits).
    """
    import xml.etree.ElementTree as ET  # noqa: PLC0415 — executor-side import

    from pyspark.sql import Window  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    from pyspark.storagelevel import StorageLevel  # noqa: PLC0415

    from assignment_etl_spark.caching import scoped_persist  # noqa: PLC0415

    ns = f"{{{namespace}}}" if namespace else ""
    schema = _shred_schema(fields)
    # Persist the wholetext scan BEFORE deriving file ordinals: a wholetext
    # source must read each file's bytes to produce its row even when the
    # value column is pruned, so an unpersisted second consumer would
    # re-read the whole corpus (2× input I/O). MEMORY_AND_DISK spills
    # large corpora instead of re-fetching them. Released, with the
    # consumer's other caches, by caching.release_scoped_caches.
    files = scoped_persist(
        with_row_id(spark.read.text(path, wholetext=True)),
        StorageLevel.MEMORY_AND_DISK,
    )
    # Compact 0-based file ordinal: monotonically_increasing_id already uses
    # the high bits (partition_index << 33), so shifting IT would overflow
    # past ~1k input partitions. The rank window runs over a projection of
    # the ids only (one row per FILE), then broadcast-joins back.
    ordinals = files.select("_row_id").withColumn(
        "_file_ord",
        # one row per input FILE (metadata-sized, never row-sized)
        F.row_number().over(Window.orderBy("_row_id")) - 1,
    )
    files = files.join(F.broadcast(ordinals), on="_row_id").drop("_row_id")

    # 2^28 records per document, 2^35 documents before sign-bit trouble
    _REC_BUDGET = 1 << 28

    def shred(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for doc, file_ord in zip(pdf["value"], pdf["_file_ord"]):
                root = ET.fromstring(doc)
                for i, rec in enumerate(root.iter(f"{ns}{record_tag}")):
                    if i >= _REC_BUDGET:
                        raise ValueError(
                            f"XML document exceeds the {_REC_BUDGET} record-"
                            "ordinal budget; split the file or widen _row_id"
                        )
                    row: dict = {}
                    for name, (tag, attr) in fields.items():
                        el = rec.find(f"{ns}{tag}")
                        if el is None:
                            row[name] = None
                        elif attr is not None:
                            row[name] = el.get(attr)
                        else:
                            row[name] = el.text
                    row["_row_id"] = (int(file_ord) << 28) + i
                    out.append(row)
            yield pd.DataFrame(out, columns=list(fields) + ["_row_id"])

    return files.mapInPandas(shred, schema=schema)


def read_diagnoses_xml(spark: SparkSession, path: str) -> DataFrame:
    """The reference's diagnosis feed: 5 fields incl. the ``system``
    attribute of ``<code>`` (etl.py:106-107)."""
    return read_xml_records(
        spark,
        path,
        record_tag="Diagnosis",
        namespace=DIAGNOSIS_NS,
        fields=DIAGNOSIS_FIELDS,
    )
