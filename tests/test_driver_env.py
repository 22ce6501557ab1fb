"""Driver-environment hostility: the driver's session may run with Spark 4
defaults (ANSI mode ON, non-UTC timezone, 200 shuffle partitions). Every
queries() callable must self-configure via _prep and still hash-correct.
Also pins multi-file ingestion ordering for the keep-first contract."""

import sys

import pytest

sys.path.insert(0, "/root/repo")
import __spark_entry__ as entry_mod

HOSTILE = {
    "spark.sql.ansi.enabled": "true",
    "spark.sql.session.timeZone": "America/Los_Angeles",
    "spark.sql.shuffle.partitions": "200",
}


@pytest.mark.parametrize(
    "name",
    ["unit_normalization", "date_lattice_roundtrip", "sex_code_mapping", "pricing_summary"],
)
def test_queries_survive_hostile_session_confs(spark, sf_dir, name):
    saved = {k: spark.conf.get(k) for k in HOSTILE}
    try:
        for k, v in HOSTILE.items():
            spark.conf.set(k, v)
        df = entry_mod.queries()[name](spark, sf_dir)
        assert df.count() > 0
        # _prep must have reset the engine-critical confs
        assert spark.conf.get("spark.sql.ansi.enabled") == "false"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_multifile_keep_first_order(spark, tmp_path):
    """Keep-first across a multi-file source follows file listing order
    (lexicographic) — the _row_id contract's multi-file clause (SCALE.md)."""
    from pyspark.sql import functions as F

    from assignment_etl_spark.io.messy_csv import read_messy_csv
    from assignment_etl_spark.ops.dedup import mark_duplicates

    (tmp_path / "a_first.csv").write_text("id,v\nk1,from_a\nk2,from_a\n")
    (tmp_path / "b_second.csv").write_text("id,v\nk1,from_b\nk3,from_b\n")
    df = read_messy_csv(spark, str(tmp_path) + "/*.csv", ["id", "v"])
    first = mark_duplicates(df, ["id"]).filter(F.col("_rn") == 1)
    kept = {r.id: r.v for r in first.collect()}
    assert kept == {"k1": "from_a", "k2": "from_a", "k3": "from_b"}
