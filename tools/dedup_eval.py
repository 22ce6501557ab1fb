"""MinHash-LSH quality evaluation: candidate precision/recall against
exact character-5-gram Jaccard ground truth on the documents table.

Run: python tools/dedup_eval.py [sf_dir] [jaccard_threshold]
Records the banding S-curve in practice — the number you tune
(num_hashes, bands) against (SCALE.md dedup section).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from assignment_etl_spark.ext.dedup import minhash_lsh_pairs, ngram_jaccard, shingles
from assignment_etl_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    thresh = float(sys.argv[2]) if len(sys.argv) > 2 else 0.5
    spark = get_spark("dedup-eval")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    # exact ground truth: all-pairs 5-gram Jaccard (quadratic — eval only)
    sh = docs.select(
        F.col("doc_id").alias("_id"), shingles(F.col("text"), 5).alias("_sh")
    ).persist()
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a._sh"), F.col("b._sh"))).cast("double")
    union = F.size(F.array_union(F.col("a._sh"), F.col("b._sh"))).cast("double")
    truth = (
        a.join(b, F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            (inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= thresh)
        .persist()
    )
    n_truth = truth.count()

    cand = minhash_lsh_pairs(docs, jaccard_threshold=thresh).persist()
    n_cand = cand.count()
    hits = cand.join(truth, on=["id_a", "id_b"], how="left_semi").count()

    precision = hits / n_cand if n_cand else float("nan")
    recall = hits / n_truth if n_truth else float("nan")
    print(
        f"ground-truth pairs (J>={thresh}): {n_truth} | minhash candidates: "
        f"{n_cand} | true candidates: {hits} | precision {precision:.3f} | "
        f"recall {recall:.3f}"
    )

    # stage 2: the default-ON exact verify (what minhash_dedup actually drops)
    from assignment_etl_spark.ext.dedup import verify_pairs_exact  # noqa: PLC0415

    ver = verify_pairs_exact(cand, docs, threshold=thresh).persist()
    n_ver = ver.count()
    v_hits = ver.join(truth, on=["id_a", "id_b"], how="left_semi").count()
    v_precision = v_hits / n_ver if n_ver else float("nan")
    v_recall = v_hits / n_truth if n_truth else float("nan")
    print(
        f"verified pairs: {n_ver} | verified precision {v_precision:.3f} | "
        f"verified recall {v_recall:.3f}"
    )


if __name__ == "__main__":
    main()
