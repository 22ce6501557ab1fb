"""Deterministic sampling: partitioning-invariance, rate fidelity,
weighted-bias sanity."""

import pytest
from pyspark.sql import functions as F

from assignment_etl_spark import internals
from assignment_etl_spark.ext.sampling import (
    exact_stratified_sample,
    portable_hash01,
    priority_sample,
    stratified_hash_sample,
)


def test_exact_stratified_quotas(spark):
    pop = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("grp")
    )
    out = exact_stratified_sample(
        pop, {"0": 7, "1": 3, "2": 0, "3": 99}, stratum_col="grp", id_col="id"
    )
    sizes = {r.grp: r.n for r in out.groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()}
    # exact quotas; quota 0 drops the stratum; quota > stratum caps at size
    assert sizes == {"0": 7, "1": 3, "3": 25}
    # deterministic member set across runs; disjoint sets for other salts
    a = {r.id for r in out.collect()}
    b = {r.id for r in exact_stratified_sample(
        pop, {"0": 7, "1": 3, "2": 0, "3": 99}, stratum_col="grp", id_col="id"
    ).collect()}
    assert a == b
    c = {r.id for r in exact_stratified_sample(
        pop, {"0": 7}, stratum_col="grp", id_col="id", salt=5
    ).collect()}
    assert len(c) == 7 and c != {x for x in a if x % 4 == 0}


def test_exact_stratified_rejects_negative_quota(spark):
    pop = spark.range(10).select(F.col("id"), F.lit("s").alias("grp"))
    with pytest.raises(ValueError):
        exact_stratified_sample(pop, {"s": -1}, stratum_col="grp", id_col="id")


@pytest.fixture(scope="module")
def pop(spark):
    return spark.range(10_000).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("grp"),
        (F.col("id") % 100 + 1).cast("double").alias("w"),
    )


def test_hash01_in_range_and_deterministic(spark, pop):
    u = pop.select(portable_hash01(F.col("id")).alias("u"))
    mn, mx = u.agg(F.min("u"), F.max("u")).first()
    assert 0 < mn and mx <= 1
    a = pop.select("id", portable_hash01(F.col("id")).alias("u"))
    b = pop.repartition(17).select("id", portable_hash01(F.col("id")).alias("u"))
    assert a.exceptAll(b).count() == 0


def test_stratified_rates_and_membership_stability(spark, pop):
    rates = {"0": 0.5, "1": 0.1, "2": 1.0}  # grp 3 absent -> dropped
    kept = stratified_hash_sample(pop, rates, stratum_col="grp", id_col="id")
    counts = {r.grp: r.n for r in kept.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"0", "1", "2"}
    assert counts["2"] == 2500  # rate 1.0 keeps the whole stratum
    assert abs(counts["0"] / 2500 - 0.5) < 0.05
    assert abs(counts["1"] / 2500 - 0.1) < 0.05
    # membership identical under different partitioning (pure projection)
    kept2 = stratified_hash_sample(
        pop.repartition(13), rates, stratum_col="grp", id_col="id"
    )
    assert kept.select("id").exceptAll(kept2.select("id")).count() == 0


def test_stratified_rejects_bad_rate(spark, pop):
    with pytest.raises(ValueError):
        stratified_hash_sample(pop, {"0": 1.5}, stratum_col="grp", id_col="id")


def test_priority_sample_size_determinism_and_bias(spark, pop):
    s = priority_sample(pop, 500, weight_col="w", id_col="id")
    rows = s.collect()
    assert len(rows) == 500
    # determinism under repartition
    s2 = priority_sample(pop.repartition(23), 500, weight_col="w", id_col="id")
    assert {r.id for r in rows} == {r.id for r in s2.collect()}
    # weighted: sampled mean weight must exceed population mean
    pop_mean = pop.agg(F.avg("w")).first()[0]
    smp_mean = s.agg(F.avg("w")).first()[0]
    assert smp_mean > pop_mean * 1.2


def test_priority_sample_grouped(spark, pop):
    s = priority_sample(pop, 10, weight_col="w", id_col="id", by=["grp"])
    per = {r.grp: r.n for r in s.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert per == {"0": 10, "1": 10, "2": 10, "3": 10}


def test_priority_sample_excludes_nonpositive_weights(spark):
    df = spark.range(100).select(
        "id", F.when(F.col("id") < 50, -1.0).otherwise(1.0).alias("w")
    )
    s = priority_sample(df, 100, weight_col="w", id_col="id")
    assert s.count() == 50
    assert s.agg(F.min("id")).first()[0] >= 50


def test_priority_sample_global_plan_is_take_ordered(spark, pop):
    s = priority_sample(pop, 50, weight_col="w", id_col="id")
    plan = internals.executed_plan_string(s)
    assert "TakeOrderedAndProject" in plan


def test_string_id_raises_instead_of_empty_sample(spark):
    df = spark.createDataFrame([("u1", "a", 1.0)], "id string, grp string, w double")
    with pytest.raises(TypeError):
        stratified_hash_sample(df, {"a": 0.5}, stratum_col="grp", id_col="id")
    with pytest.raises(TypeError):
        priority_sample(df, 5, weight_col="w", id_col="id")


class TestMixtureSample:
    def _pop(self, spark):
        # 3 domains x 400 docs, 10 tokens each -> 4000 tokens per domain
        rows = [(i, f"d{i % 3}", 10) for i in range(1200)]
        return spark.createDataFrame(rows, "doc_id long, domain string, n_tok int")

    def test_rates_and_drops(self, spark):
        from assignment_etl_spark.ext.sampling import mixture_sample

        pop = self._pop(spark)
        out = mixture_sample(
            pop,
            {"d0": 1000, "d1": 999_999},
            domain_col="domain",
            token_col="n_tok",
            id_col="doc_id",
        )
        by_dom = {
            r.domain: r
            for r in out.groupBy("domain")
            .agg(F.count("*").alias("n"), F.sum("n_tok").alias("tok"))
            .collect()
        }
        assert "d2" not in by_dom  # absent from targets -> dropped
        assert by_dom["d1"].n == 400  # under budget -> rate caps at 1
        # d0: rate 0.25, achieved tokens concentrate around the target
        assert 500 <= by_dom["d0"].tok <= 1500

    def test_matches_duckdb_replica(self, spark, tmp_path):
        import duckdb

        from assignment_etl_spark.ext.sampling import (
            mixture_sample,
            sql_mixture_sample,
        )

        pop = self._pop(spark)
        p = str(tmp_path / "pop.parquet")
        pop.write.mode("overwrite").parquet(p)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW pop AS SELECT * FROM '{p}/*.parquet'")
        targets = {"d0": 1000, "d2": 2500}
        got = sorted(
            r.doc_id
            for r in mixture_sample(
                pop, targets, domain_col="domain", token_col="n_tok",
                id_col="doc_id", salt=3,
            ).collect()
        )
        exp = sorted(
            con.execute(
                sql_mixture_sample(
                    targets, table="pop", domain_col="domain",
                    token_col="n_tok", id_col="doc_id", salt=3,
                )
            ).df()["doc_id"]
        )
        assert got == exp and len(got) > 0

    def test_partitioning_invariance(self, spark):
        from assignment_etl_spark.ext.sampling import mixture_sample

        pop = self._pop(spark)
        kw = dict(domain_col="domain", token_col="n_tok", id_col="doc_id")
        a = sorted(r.doc_id for r in mixture_sample(pop, {"d0": 800}, **kw).collect())
        b = sorted(
            r.doc_id
            for r in mixture_sample(pop.repartition(13), {"d0": 800}, **kw).collect()
        )
        assert a == b

    def test_negative_target_raises(self, spark):
        import pytest as _pytest

        from assignment_etl_spark.ext.sampling import mixture_sample

        with _pytest.raises(ValueError):
            mixture_sample(
                self._pop(spark), {"d0": -1},
                domain_col="domain", token_col="n_tok", id_col="doc_id",
            )


class TestDeterministicShuffle:
    def test_reproducible_and_salt_sensitive(self, spark):
        from assignment_etl_spark.ext.sampling import deterministic_shuffle

        pop = spark.range(500).withColumnRenamed("id", "doc_id")
        a = [r.doc_id for r in deterministic_shuffle(pop, id_col="doc_id").collect()]
        b = [
            r.doc_id
            for r in deterministic_shuffle(
                pop.repartition(11), id_col="doc_id"
            ).collect()
        ]
        c = [
            r.doc_id
            for r in deterministic_shuffle(pop, id_col="doc_id", salt=1).collect()
        ]
        assert a == b                      # partitioning-invariant
        assert a != c                      # a new salt is a new epoch order
        assert sorted(a) == list(range(500))
        assert a != list(range(500))       # actually shuffled


def test_negative_samples_contract(spark):
    from pyspark.sql import functions as F

    from assignment_etl_spark.ext.sampling import negative_samples

    items = spark.range(50).select((F.col("id") + 1000).alias("item"))
    positives = spark.createDataFrame(
        [(u, 1000 + (u * 3) % 50) for u in range(1, 40)], "user long, item long"
    )
    neg = negative_samples(
        positives, items, user_col="user", item_col="item", k=5, salt=7
    )
    rows = neg.collect()
    # no negative may be a positive
    pos = {(r.user, r.item) for r in positives.collect()}
    assert all((r.user, r.item) not in pos for r in rows)
    # every sampled item comes from the catalog; <= k per user
    cat = {r.item for r in items.collect()}
    assert all(r.item in cat for r in rows)
    per_user = {}
    for r in rows:
        per_user[r.user] = per_user.get(r.user, 0) + 1
    assert all(1 <= c <= 5 for c in per_user.values())
    # deterministic
    again = negative_samples(
        positives, items, user_col="user", item_col="item", k=5, salt=7
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))
    # a different salt reshuffles
    other = negative_samples(
        positives, items, user_col="user", item_col="item", k=5, salt=8
    )
    assert sorted(map(tuple, rows)) != sorted(map(tuple, other.collect()))


def test_temperature_mixture_sample(spark):
    from assignment_etl_spark.ext.sampling import temperature_mixture_sample

    # big domain: 900 tokens over 9 docs; small domain: 100 over 1
    rows = [(i, "big", 100) for i in range(9)] + [(100, "small", 100)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars int")

    # alpha=1 reproduces natural proportions: every rate = total/corpus
    nat = temperature_mixture_sample(
        df, domain_col="source", token_col="n_chars", id_col="doc_id",
        total_tokens=500, alpha=1.0,
    )
    rates = {r.source: r.mix_rate for r in nat.select("source", "mix_rate").distinct().collect()}
    assert abs(rates["big"] - 0.5) < 1e-9 and abs(rates["small"] - 0.5) < 1e-9

    # alpha<1 flattens: the small domain's rate rises above the big one's
    flat = temperature_mixture_sample(
        df, domain_col="source", token_col="n_chars", id_col="doc_id",
        total_tokens=500, alpha=0.5,
    )
    frates = {r.source: r.mix_rate for r in flat.select("source", "mix_rate").distinct().collect()}
    assert frates["small"] > frates["big"]
    # w_big=30, w_small=10 => budgets 375/125 => rates 375/900, min(1, 125/100)=1
    assert abs(frates["big"] - 375 / 900) < 1e-6
    assert frates["small"] == 1.0
