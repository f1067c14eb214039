"""Recall evaluation for the approximate tiers — backs SURVEY claims
with reproducible numbers.

Measures, at a given sf dir:
- MinHash LSH candidate recall vs ALL exact-Jaccard pairs >= tau
  (brute force over the corpus — only feasible at small sf, which is
  the point: certify the sketch tier against ground truth here, run
  the sketch tier alone at 100 TB).
- ANN recall@k vs brute-force cosine for sign-block, LSH, IVF and PQ.

Usage: python tools/eval_recall.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pyspark.sql import functions as F

    from fuel_spark import ml
    from fuel_spark.functions import cosine_expr, shingles_over_norm, norm_text
    from fuel_spark.ops import dedup, similarity as sim
    from fuel_spark.session import get_spark
    from fuel_spark.sources import load_tables

    spark = get_spark(
        "eval-recall", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    t = load_tables(spark, sf)
    out: dict = {"sf": sf}

    # ---- MinHash candidate recall vs exact Jaccard ----------------
    docs = t["documents"].select("doc_id", "text")
    sh = docs.select(
        F.col("doc_id"), norm_text(F.col("text")).alias("_n")
    ).select(F.col("doc_id"), shingles_over_norm("_n", 5).alias("sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    uni = F.size("sa") + F.size("sb") - inter
    exact = (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("j", inter / F.greatest(uni, F.lit(1)))
    )
    for tau in (0.5, 0.8):
        truth = {
            (r.id_a, r.id_b) for r in exact.where(F.col("j") >= tau).collect()
        }
        cand = {
            (r.id_a, r.id_b)
            for r in dedup.minhash_candidate_pairs(
                docs, "doc_id", "text"
            ).collect()
        }
        hit = len(truth & cand)
        out[f"minhash_candidate_recall@j{tau}"] = (
            round(hit / len(truth), 4) if truth else None
        )
        out[f"n_true_pairs@j{tau}"] = len(truth)

    # ---- ANN recall@k vs brute force ------------------------------
    e = t["embeddings"]
    q = e.where(F.col("vec_id") < 20)
    k = 5
    brute = {
        (r.query_id, r.neighbor_id)
        for r in sim.cosine_topk(e, q, "vec_id", "embedding", k=k).collect()
    }

    def recall(df, qcol="query_id", ncol="neighbor_id"):
        got = {(r[qcol], r[ncol]) for r in df.collect()}
        return round(len(got & brute) / len(brute), 4)

    out["ann_recall@5_sign_block_probe0"] = recall(
        sim.sign_block_ann(e, q, "vec_id", "embedding", k=k)
    )
    out["ann_recall@5_sign_block_probe1"] = recall(
        sim.sign_block_ann(e, q, "vec_id", "embedding", k=k, probes=1)
    )
    out["ann_recall@5_lsh_probe0"] = recall(
        sim.lsh_ann(e, q, "vec_id", "embedding", k=k, num_planes=6,
                    probes=0)
    )
    out["ann_recall@5_lsh_probe1"] = recall(
        sim.lsh_ann(e, q, "vec_id", "embedding", k=k, num_planes=6)
    )
    out["ann_recall@5_ivf"] = recall(
        ml.ivf_ann(e, q, k=k, k_clusters=8, nprobe=4, seed=7)
    )
    books = sim.pq_fit(e, m=16, k_codes=64, sample_n=2048, seed=7)
    out["ann_recall@5_pq_rerank20"] = recall(
        sim.pq_ann(e, q, k=k, codebooks=books, rerank=20)
    )
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
