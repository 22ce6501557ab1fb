"""The LLM-data operators of the ``ext`` layer, one pass over the generated
corpus (see gen_corpus.py), as the traced run calls them.

Each operator call is one step. Its outputs are collected (every column,
so no pass is pruned away) and digested; an output that feeds a later
step is persisted first, so every step times its own operator. The output
check: every step ran, and the curation and decontamination outputs hold
the counts the generator planted. The digests are printed, so two runs of
one seed can be compared.
"""

from __future__ import annotations

import hashlib

import gen_corpus

N_DOCS = 200
N_VECS = 1000
PQ = {"m": 4, "d_sub": 16, "k": 8, "iters": 2}  # m × d_sub = gen_corpus.DIM
BUDGET = 2048  # tokens per packed sequence
DROPS = ("unscored", "low_quality", "wrong_lang", "duplicate")
STEPS = ["ext.build_band_store", "ext.incremental_minhash_dedup",
         "ext.minhash_dedup_keep_best", "ext.dedup_lines", "ext.decontaminate",
         "ext.curate_corpus", "ext.pack_stream", "ext.pq_train", "ext.ivfpq_search"]


def generate(out_dir: str, seed: int) -> dict:
    return gen_corpus.generate(out_dir, seed, N_DOCS, N_VECS)


def digest(rows) -> str:
    """Order-free digest of rows; floats are rounded to 6 significant
    digits, so summation order does not change it."""
    def cell(v):
        if isinstance(v, float):
            return f"{v:.6g}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return repr(v)

    lines = sorted("|".join(cell(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def ext_pass(spark, inputs: dict, step) -> tuple[dict[str, str], dict]:
    """One pass; ``step(name, fn)`` runs each operator call (the tracer's
    span). Returns (digest per step, counts to check). The caller releases
    what the pass persisted."""
    from pyspark.sql import functions as F

    from assignment_etl_spark.ext.curation import curate_corpus
    from assignment_etl_spark.ext.decontam import decontaminate
    from assignment_etl_spark.ext.dedup import (
        build_band_store,
        dedup_lines,
        incremental_minhash_dedup,
        minhash_dedup_keep_best,
    )
    from assignment_etl_spark.ext.kmeans import kmeans
    from assignment_etl_spark.ext.packing import pack_stream
    from assignment_etl_spark.ext.pq import ivfpq_search, pq_train
    from assignment_etl_spark.ext.text import quality_score

    paths = inputs["paths"]
    docs = spark.read.parquet(paths["documents"]).persist()
    bench = spark.read.parquet(paths["benchmark"]).persist()
    emb = spark.read.parquet(paths["embeddings"]).persist()
    for df in (docs, bench, emb):
        df.write.format("noop").mode("overwrite").save()
    hist = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    digests: dict[str, str] = {}

    def run(name: str, fn, *, keep: bool = False):
        """One step: its frames are persisted when a later step reads
        them, and collected either way."""
        def call():
            out = fn()
            frames = out if isinstance(out, tuple) else (out,)
            if keep:
                frames = tuple(df.persist() for df in frames)
            return frames, [df.collect() for df in frames]

        frames, rows = step(name, call)
        digests[name] = digest((i, *r) for i, part in enumerate(rows) for r in part)
        return frames, rows

    (store,), _ = run("ext.build_band_store", lambda: build_band_store(hist), keep=True)
    # band_delta and dropped, which the call materializes (eager); survivors
    # is the lazy rest of the batch
    run("ext.incremental_minhash_dedup", lambda: incremental_minhash_dedup(
        batch, store, history_texts=hist, jaccard_threshold=0.4)[1:])
    run("ext.minhash_dedup_keep_best", lambda: minhash_dedup_keep_best(
        docs, quality_score(F.col("text")), jaccard_threshold=0.4, rounds=4))
    run("ext.dedup_lines", lambda: dedup_lines(docs, mode="drop_frequent", max_docs=10))
    _, (clean,) = run("ext.decontaminate", lambda: decontaminate(docs, bench, n=13))
    (curated,), (cur_rows,) = run("ext.curate_corpus", lambda: curate_corpus(
        docs, min_quality=0.5, langs=("en",)), keep=True)
    kept = curated.filter(~F.col("status").isin(*DROPS)).select("doc_id")
    run("ext.pack_stream", lambda: pack_stream(
        docs.join(kept, on="doc_id", how="left_semi"), budget=BUDGET))

    # coarse cells and residuals, as the IVF-PQ index is built (not a step)
    assign, coarse = kmeans(emb, id_col="vec_id", vec_col="embedding", k=4, iters=2)
    coarse = coarse.persist()
    res = (emb.select(F.col("vec_id").alias("pid"),
                      F.col("embedding").cast("array<double>").alias("v"))
           .join(assign.select("pid", F.col("cidx").alias("cell")), on="pid")
           .join(coarse.select(F.col("cidx").alias("cell"), F.col("c").alias("cc")),
                 on="cell")
           .select("pid", "cell", F.zip_with("v", "cc", lambda a, b: a - b).alias("res"))
           .persist())
    res.write.format("noop").mode("overwrite").save()
    (codes, cents), _ = run("ext.pq_train", lambda: pq_train(
        res, id_col="pid", vec_col="res", **PQ), keep=True)
    codes_cell = codes.join(res.select("pid", "cell"), on="pid").select(
        "pid", "cell", "sub", "cidx")
    query = emb.filter(F.col("vec_id") == inputs["query_id"]).first()["embedding"]
    run("ext.ivfpq_search", lambda: ivfpq_search(
        codes_cell, cents, coarse, list(query), m=PQ["m"], d_sub=PQ["d_sub"],
        nprobe=2, topk=10))

    status = {}
    for r in cur_rows:
        status[r["status"]] = status.get(r["status"], 0) + 1
    facts = {s: status.get(s, 0) for s in ("duplicate", "wrong_lang", "low_quality")}
    facts["decontaminated_docs"] = len(clean)
    return digests, facts


def check(digests: dict[str, str], facts: dict, expected: dict) -> bool:
    """Every step ran, and the pass's counts are the generator's."""
    return set(digests) == set(STEPS) and facts == expected
