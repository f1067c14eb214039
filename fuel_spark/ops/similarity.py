"""Similarity search over embedding columns (array<float>).

LLM-pipeline extension (no fuel analogue).  Brute-force cosine top-k
is the exact baseline: broadcast the (small) query set against the
corpus, score with JVM-side lambda expressions (zip_with/aggregate —
no Python), rank per query.  The scale path is LSH bucketing
(random-hyperplane signs) so candidate generation touches only
matching buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import broadcast

from fuel_spark.functions import cosine_expr, ensure_parallelism, materialize

# Default skew-guard cap for the pair-emitting block joins here,
# mirroring ``ops.dedup.DEFAULT_MAX_BUCKET``: bounded BY DEFAULT so a
# dominant block at 100 TB degrades to star pairs instead of going
# quadratic on one reducer; pass ``None`` to opt out.
DEFAULT_MAX_BLOCK: int | None = 512


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries is assumed small (broadcast); corpus any size.  One
    broadcast nested-loop score pass + per-query top-k (window rank
    bounded by k), no quadratic shuffle.
    Output: query_id, neighbor_id, cosine, rank.
    """
    q = broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        )
    )
    c = ensure_parallelism(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    )
    scored = q.crossJoin(c).where(F.col("query_id") != F.col("neighbor_id"))
    scored = scored.withColumn(
        "cosine", F.round(cosine_expr("qvec", "cvec"), 6)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_pairs_within(
    corpus: DataFrame,
    group_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_block: int | None = DEFAULT_MAX_BLOCK,
) -> DataFrame:
    """Embedding near-duplicate pairs within a blocking group
    (e.g. label, or a :func:`sign_sketch` / :func:`lsh_bucket`
    column): join keyed on the group bounds the pair space; cosine ≥
    threshold marks near-dups.

    ``max_block`` guards the pathological block (a dominant group at
    100 TB goes quadratic on one reducer): blocks larger than the cap
    degrade to star pairs against the block's minimum id — mirroring
    ``minhash_candidate_pairs``' ``max_bucket`` guard.  The left side
    is pruned *before* the join (oversized blocks contribute only
    their anchor row), so join work is Σ_small n² + Σ_large n, never
    corpus².
    """
    # width pin on the block key: the blocked join's shuffle output is
    # bytes-small at moderate scale, AQE coalesces it to one
    # partition, and the per-pair cosine lambdas — the CPU-heavy part
    # — run single-threaded (the 20× smoke measured 54s for
    # semantic_dedup, 6.6s of it one task computing 380k cosines).
    a = ensure_parallelism(corpus.select(
        F.col(group_col).alias("g"), F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
    ), "g")
    b = ensure_parallelism(corpus.select(
        F.col(group_col).alias("g"), F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
    ), "g")
    if max_block is not None:
        sizes = corpus.groupBy(F.col(group_col).alias("g")).agg(
            F.min(id_col).alias("_anchor"), F.count(F.lit(1)).alias("_n")
        )
        a = (
            a.join(sizes, "g")
            .where((F.col("_n") <= max_block) | (F.col("id_a") == F.col("_anchor")))
            .drop("_anchor", "_n")
        )
    return (
        a.join(b, "g")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine_expr("va", "vb"), 6))
        .where(F.col("cosine") >= threshold)
        .select(F.col("g").alias(group_col), "id_a", "id_b", "cosine")
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.97,
    bits: int = 16,
    max_block: int | None = DEFAULT_MAX_BLOCK,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): drop documents whose *embeddings* are
    near-identical even when their text is not.

    Spark-first shape: the paper's k-means clustering step is replaced
    by :func:`sign_sketch` blocking (axis-sign LSH) — same role
    (bound the pair space so within-block comparison is feasible at
    corpus scale), but expressible as a pure projection with no fitted
    model and portable to the SQL oracle.  Within each block,
    cosine ≥ threshold pairs mark duplicates and the larger id of
    every pair is killed — the survivor of a dense semantic cluster is
    its minimum id, mirroring ``apply_dedup``'s greedy keep-min.
    ``max_block`` caps pathological blocks exactly as in
    :func:`cosine_pairs_within`.  One narrow projection, one blocked
    self-join, one left_anti — no all-pairs stage anywhere.
    """
    blocked = sign_sketch(corpus, vec_col=vec_col, bits=bits, out_col="_sd_block")
    pairs = cosine_pairs_within(
        blocked, "_sd_block", id_col=id_col, vec_col=vec_col,
        threshold=threshold, max_block=max_block,
    )
    kills = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return corpus.join(kills, id_col, "left_anti")


def l2_normalize(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "unit"
) -> DataFrame:
    """Unit-normalize an embedding column (double precision), keeping
    the norm as a feature — standard pre-step before cosine/ANN so
    downstream similarity is a plain dot product."""
    from fuel_spark.functions import norm2_expr

    # materialize the norm once; dividing inside the lambda against the
    # inlined norm expression would recompute it per element
    out = df.withColumn("_n2", norm2_expr(vec_col))
    unit = F.transform(
        F.col(vec_col), lambda x: x.cast("double") / F.col("_n2")
    )
    return (
        out.withColumn("vec_norm", F.round(F.col("_n2"), 6))
        .withColumn(out_col, unit)
        .drop("_n2")
    )


def matryoshka_truncate(
    df: DataFrame,
    vec_col: str = "embedding",
    dims: int = 16,
    out_col: str = "mrl",
) -> DataFrame:
    """Matryoshka truncation (Kusupati et al. 2022, arXiv:2205.13147):
    keep the first ``dims`` components and L2-renormalize.
    MRL-trained embeddings front-load coarse information, so the
    prefix is a valid low-dimensional embedding on its own — the
    cheap representation for the coarse stage of a retrieval cascade
    (dims/D of the compute and wire per comparison).

    Pure projection: slice + one materialized norm + an element-wise
    divide, no shuffle.  The norm materializes into its own column
    first — dividing against the inlined norm expression would
    recompute the reduction once per element.
    """
    from fuel_spark.functions import norm2_expr

    out = df.withColumn("_sl", F.slice(F.col(vec_col), 1, dims))
    out = out.withColumn("_n2", norm2_expr("_sl"))
    unit = F.transform(F.col("_sl"), lambda x: x.cast("double") / F.col("_n2"))
    return out.withColumn(out_col, unit).drop("_sl", "_n2")


def matryoshka_ann(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 16,
    shortlist: int = 50,
    k: int = 5,
) -> DataFrame:
    """Two-stage retrieval cascade on matryoshka prefixes: coarse
    top-``shortlist`` by truncated-prefix cosine, then an exact
    full-dimension rerank of the shortlist down to top-k — the
    adaptive-retrieval pattern from the MRL paper, where the cascade
    does dims/D of the work for almost all of the recall (certify
    with ``tools/eval_recall.py`` like the other ANN tiers).

    Plan shape mirrors :func:`cosine_topk`: broadcast query set, one
    scoring pass over the corpus on the SHORT prefix, per-query
    bounded window for the shortlist, and only shortlist×queries rows
    (not the corpus) carry full vectors into the rerank.  Both ranks
    round to 6 dp first so ties break on neighbor_id identically in
    any engine.
    """
    from fuel_spark.functions import cosine_expr

    tq = matryoshka_truncate(queries, vec_col, dims, "_mq")
    tc = matryoshka_truncate(corpus, vec_col, dims, "_mc")
    q = broadcast(
        tq.select(
            F.col(id_col).alias("query_id"),
            F.col("_mq").alias("qv"),
            F.col(vec_col).alias("qfull"),
        )
    )
    c = ensure_parallelism(
        tc.select(
            F.col(id_col).alias("neighbor_id"),
            F.col("_mc").alias("cv"),
            F.col(vec_col).alias("cfull"),
        )
    )
    scored = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_coarse", F.round(cosine_expr("qv", "cv"), 6))
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("_coarse").desc(), F.col("neighbor_id")
    )
    short = (
        scored.withColumn("_cr", F.row_number().over(wc))
        .where(F.col("_cr") <= shortlist)
        .withColumn("cosine", F.round(cosine_expr("qfull", "cfull"), 6))
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        short.withColumn("rank", F.row_number().over(wf).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def mmr_diversify(
    shortlist: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) of an ANN shortlist: greedily pick the candidate maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-picked — the
    standard diversification pass that stops a retrieval feed from
    returning five near-copies of the same document.

    ``shortlist`` is any (query_id, neighbor_id, cosine) frame from
    :func:`cosine_topk` / :func:`matryoshka_ann` / the ANN tiers.
    The greedy argmax is inherently sequential per query, so this is
    the sanctioned Arrow tier: one ``applyInPandas`` over query
    groups, each group a ≤shortlist-size pandas frame with a BLAS
    dot for the pairwise sims — per-task work is O(shortlist²·dim)
    on tens of rows, never corpus-sized.  Selection is deterministic:
    candidates pre-sort by (relevance desc, id), ties resolve to the
    first occurrence.
    """
    import pandas as pd

    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v")
    )
    joined = shortlist.select("query_id", "neighbor_id", "cosine").join(
        vecs, "neighbor_id"
    )

    def pick(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf.sort_values(
            ["cosine", "neighbor_id"], ascending=[False, True]
        ).reset_index(drop=True)
        V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0] = 1.0
        U = V / norms[:, None]
        rel = pdf["cosine"].to_numpy(dtype=np.float64)
        chosen: list[int] = []
        cand = list(range(len(pdf)))
        while cand and len(chosen) < k:
            if not chosen:
                best = cand[0]
            else:
                sim = U[cand] @ U[chosen].T
                score = lam * rel[cand] - (1.0 - lam) * sim.max(axis=1)
                best = cand[int(np.argmax(score))]
            chosen.append(best)
            cand.remove(best)
        out = pdf.iloc[chosen]
        return pd.DataFrame(
            {
                "query_id": out["query_id"].to_numpy(),
                "neighbor_id": out["neighbor_id"].to_numpy(),
                "relevance": out["cosine"].to_numpy(),
                "rank": np.arange(1, len(chosen) + 1, dtype=np.int64),
            }
        )

    return joined.groupBy("query_id").applyInPandas(
        pick, "query_id bigint, neighbor_id bigint, relevance double, rank bigint"
    )


def mmr_diversify_fixed(
    shortlist: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Deterministic MMR re-ranking with the greedy loop UNROLLED as
    ``k`` pure-DataFrame argmax steps — no Python in the data path, so
    the whole selection is SQL-expressible and oracle-checked via an
    unrolled CTE (the ``graph_hits_fixed`` pattern; VERDICT r5 ask #5
    for ``ann_mmr``).  Semantics match :func:`mmr_diversify`
    (Carbonell & Goldstein 1998): step 1 picks max relevance, step t
    picks max ``λ·rel − (1−λ)·max-sim-to-picked``; every sim and
    every score is round-6'd before comparison and ties break on
    neighbor_id, which makes the discrete pick sequence bit-identical
    cross-engine (left-to-right dot folds both sides).  The pandas
    tier stays the general-``k`` path; this one is the fixed-``k``
    certificate tier.

    Scale shape: every frame is shortlist-sized (Q × ≤shortlist
    rows — the CANDIDATE set, never the corpus), joins are
    broadcast-hinted, and each unrolled step adds one
    candidates×chosen pass, so cost is O(k · Q · shortlist · dim)
    spread over k tiny stages.  The candidate frame is referenced by
    all k steps, so it is materialized once.  Output: query_id,
    neighbor_id, relevance, rank (rank = pick order, 1-based).
    """
    one_minus = 1.0 - lam  # pin the EXACT double; oracle uses repr()
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v")
    )
    cand = materialize(
        shortlist.select(
            "query_id", "neighbor_id",
            F.col("cosine").alias("relevance"),
        )
        .join(vecs, "neighbor_id")
    )

    def argmax(scored: DataFrame, score_col: str, rank: int) -> DataFrame:
        """Lexicographic argmax with neighbor_id tie-break via
        min(struct(-score, id)) — map-side combinable, no window."""
        return (
            scored.groupBy("query_id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col(score_col)).alias("_neg"),
                        F.col("neighbor_id").alias("neighbor_id"),
                    )
                ).alias("_m")
            )
            .select(
                "query_id",
                F.col("_m.neighbor_id").alias("neighbor_id"),
                F.lit(rank).cast("bigint").alias("rank"),
            )
        )

    picked = argmax(cand, "relevance", 1)
    for step in range(2, k + 1):
        chosen_v = picked.select("query_id", "neighbor_id").join(
            vecs, "neighbor_id"
        ).select(
            "query_id", F.col("_v").alias("_cv")
        )
        rem = cand.join(
            picked.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_anti",
        )
        scored = (
            rem.join(broadcast(chosen_v), "query_id")
            .withColumn("_sim", F.round(cosine_expr("_v", "_cv"), 6))
            .groupBy("query_id", "neighbor_id")
            .agg(
                F.max("_sim").alias("_maxsim"),
                F.any_value("relevance").alias("relevance"),
            )
            .withColumn(
                "_score",
                F.round(
                    F.lit(lam) * F.col("relevance")
                    - F.lit(one_minus) * F.col("_maxsim"),
                    6,
                ),
            )
        )
        # consumed 3x by step t+1 (chosen vectors, the left_anti, the
        # next union): measured 3.6s → ~1s at sf0.1
        picked = materialize(
            picked.unionByName(argmax(scored, "_score", step))
        )
    return (
        picked.join(
            cand.select("query_id", "neighbor_id", "relevance"),
            ["query_id", "neighbor_id"],
        )
        .select("query_id", "neighbor_id", "relevance", "rank")
    )


def sign_sketch(
    df: DataFrame, vec_col: str = "embedding", bits: int = 16,
    out_col: str = "sign_bucket",
) -> DataFrame:
    """Axis-sign sketch: bit b set iff component b > 0 — the simplest
    LSH family (axis-aligned hyperplanes), fully portable to the SQL
    oracle.  Groups of equal sketches are near-dup candidate blocks."""
    terms = [
        F.when(F.element_at(F.col(vec_col), b + 1) > 0, F.lit(1 << b)).otherwise(0)
        for b in range(bits)
    ]
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return df.withColumn(out_col, acc.cast("bigint"))


def sign_block_ann(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 8,
    probes: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates share the query's axis-sign
    sketch block, exact cosine reranks within the block.

    The fully-portable ANN variant (sign_sketch is plain SQL), so this
    one is oracle-checked end-to-end; lsh_ann (seeded hyperplanes) and
    ivf_ann (KMeans) trade portability for better recall.

    Like every single-probe sign family, block-sharing recall
    collapses on UNSTRUCTURED corpora (measured 0.02@5 on random
    embeddings — a random point's neighbors spread across blocks);
    it is a near-dup blocker first.  ``probes=1`` also probes the
    ``bits`` one-bit-flip blocks (multi-probe, query side explodes,
    corpus sketched once); for generic high-recall top-k use
    ivf_ann / pq_ann (0.86 / 0.97 on the same corpus,
    tools/eval_recall.py).
    """
    cb = sign_sketch(corpus, vec_col, bits).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"),
        F.col("sign_bucket"),
    )
    qb = sign_sketch(queries, vec_col, bits)
    if probes >= 1:
        flips = ", ".join(f"sign_bucket ^ {1 << b}" for b in range(bits))
        qb = qb.withColumn(
            "sign_bucket", F.expr(f"explode(array(sign_bucket, {flips}))")
        )
    qb = qb.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"),
        F.col("sign_bucket"),
    )
    scored = (
        broadcast(qb)
        .join(cb, "sign_bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    if probes >= 1:
        # a pair can meet once per probed block
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    scored = scored.withColumn(
        "cosine", F.round(cosine_expr("qvec", "cvec"), 6)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    num_planes: int = 8,
    seed: int = 42,
    out_col: str = "bucket",
    dim: int | None = None,
) -> DataFrame:
    """Random-hyperplane LSH bucket id (sign pattern of dot products
    with seeded ±1 planes).

    Plane p's component i is ±1 from xxhash64(seed, p, i) parity —
    deterministic, needs no stored plane matrix, and evaluates as a
    narrow JVM projection.  Scale path for ANN: join/bucket on this id
    then verify with exact cosine (Spark-side; not SQL-oracle-able,
    recorded rows-only).

    Pass ``dim`` (the embedding width) to keep the plan fully lazy;
    without it a one-row probe reads the first vector's length.
    """
    if dim is None:
        dim_probe = df.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = dim_probe["d"] if dim_probe else 0
    bucket = F.lit(0).cast("long")
    for p in range(num_planes):
        # sign_i = +1 if xxhash64(seed, p, i) even else -1; dot = Σ sign_i * v_i
        terms = F.expr(
            f"aggregate(zip_with({vec_col}, sequence(0, {dim - 1}),"
            f" (v, i) -> CASE WHEN pmod(xxhash64({seed}L, {p}L, i), 2) = 0"
            f"  THEN CAST(v AS DOUBLE) ELSE -CAST(v AS DOUBLE) END),"
            f" CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        bucket = bucket + F.when(terms > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return df.withColumn(out_col, bucket)


def lsh_ann(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
    probes: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share one of the query's probed
    LSH buckets, then exact cosine ranks within candidates.  At 100 TB
    the bucket join replaces the full scan per query with
    ~(1 + probes*num_planes) * corpus/2^planes rows.

    ``probes`` is the multi-probe Hamming radius (Lv et al. 2007,
    "Multi-Probe LSH"): radius 1 also probes every bucket one bit-flip
    away — the QUERY side explodes (tiny), the corpus is bucketed
    once.  Single-probe (probes=0) collapses on unstructured corpora:
    measured recall@5 on random embeddings was 0.04 single-probe vs
    the exact scan, because a random point's true neighbors spread
    across sign buckets; radius-1 probing multiplies candidates by
    ~num_planes and recovers most of it (tools/eval_recall.py
    measures both).  For high-recall generic top-k prefer ivf_ann /
    pq_ann (measured 0.86 / 0.97 on the same corpus); hyperplane LSH
    shines as a near-dup blocker where near-identical vectors share
    every sign.
    """
    if dim is None:
        probe = queries.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = probe["d"] if probe else 0
    cb = lsh_bucket(corpus, vec_col, num_planes, seed, dim=dim)
    qb = lsh_bucket(queries, vec_col, num_planes, seed, dim=dim)
    if probes >= 1:
        flips = ", ".join(f"bucket ^ {1 << p}" for p in range(num_planes))
        qb = qb.withColumn(
            "bucket", F.expr(f"explode(array(bucket, {flips}))")
        )
    q = broadcast(
        qb.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.col("bucket"),
        )
    )
    c = cb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"), "bucket")
    scored = (
        q.join(c, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        # a pair can meet once per probed bucket: dedup before scoring
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cosine", F.round(cosine_expr("qvec", "cvec"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def pivot_lsh_planes(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
) -> DataFrame:
    """The pivot-LSH hash family as a frame: the ``n_planes``
    LOWEST-ID vectors of ``df`` with a dense bit position ``p``
    (0..n_planes-1, plane_id order).  Extracted from
    :func:`pivot_lsh_ann` so the family can be FROZEN — built once
    from the original corpus and reused to bucket later ingest
    batches (:func:`ann_merge_into_index`), the property a long-lived
    index needs: re-deriving planes from a grown corpus silently
    re-hashes every bucket (measured by
    :func:`ann_index_merge_certificate`).

    TakeOrdered constant (broadcast); the bit-position window runs
    over ≤ n_planes rows.
    """
    return broadcast(
        df.select(
            F.col(id_col).alias("plane_id"), F.col(vec_col).alias("pvec")
        )
        .orderBy("plane_id")
        .limit(n_planes)
        .withColumn(
            "p", F.row_number().over(Window.orderBy("plane_id")) - F.lit(1)
        )
    )


def pivot_lsh_ann(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 6,
    probes: int = 1,
    planes_from: DataFrame | None = None,
) -> DataFrame:
    """Deterministic hyperplane-LSH top-k: the hash planes are the
    ``n_planes`` LOWEST-ID corpus vectors themselves (data-dependent
    pivots, no seeded randomness), so the ENTIRE search — sign
    bucketing, radius-1 multi-probe, in-bucket exact rerank — is
    SQL-expressible and runs under the exact-hash oracle gate,
    recall certificate included.  The seeded-xxhash tier
    (:func:`lsh_ann`) stays the production hash family (its planes
    are corpus-independent, the right property for a long-lived
    index); this tier exists to pin the LSH *search mechanics* the
    same way ``pivot_ivf_ann`` / ``pivot_pq_ann`` pinned IVF/PQ
    (VERDICT r5 ask #5).  Bit p of a vector's bucket is the sign of
    its dot product with plane p (dots fold strictly left-to-right in
    BOTH engines, so the sign — and hence the bucket — is
    bit-identical cross-engine; dots are round-6'd first by the
    repo-wide discipline).

    Scale shape: planes are a TakeOrdered constant (broadcast; the
    plane-index window runs over ≤ ``n_planes`` rows); bucketing is
    one broadcast nested-loop pass (N × n_planes rows) reduced by a
    map-side-combinable conditional SUM — no fact-wide window or
    extra shuffle; multi-probe (Lv et al. 2007) explodes the TINY
    query side only (×(1 + n_planes)), the corpus is bucketed once;
    the only wide exchange is the per-query top-k window over
    in-bucket candidates (~(1 + n_planes)/2^n_planes of the corpus
    per query), the :func:`cosine_topk` shape.  Radius-1 probe
    buckets are pairwise distinct, so a candidate pair meets at most
    once — no dedup pass needed.  Output: query_id, neighbor_id,
    cosine, rank.
    """
    from fuel_spark.functions import dot_expr

    # Probe radii: 0 (exact bucket), 1 (flip each bit), 2 (also every
    # bit PAIR — Lv et al. 2007's next perturbation ring; query-side
    # explosion grows to 1 + n + C(n,2), the corpus side is
    # untouched).  Reject anything else loudly rather than silently
    # behaving as radius-1 (ADVICE r6).
    if probes not in (0, 1, 2):
        raise ValueError(
            f"pivot_lsh_ann: probes={probes!r} unsupported — 0 (exact "
            "bucket), 1 (radius-1), or 2 (radius-2, bit pairs) only"
        )

    # dense bit position 0..n_planes-1 (window over ≤n_planes rows —
    # allowlisted aggregate-sized SinglePartition).  ``planes_from``
    # freezes the family on a different frame (the pre-merge corpus)
    # so a merged-but-not-reindexed index stays searchable — the
    # stale-index recall path ann_recall_after_merge measures.
    planes = pivot_lsh_planes(
        planes_from if planes_from is not None else corpus,
        id_col, vec_col, n_planes,
    )

    def bucketed(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        v = df.select(
            F.col(id_col).alias(out_id), F.col(vec_col).alias(out_vec)
        )
        return (
            v.crossJoin(planes)
            .withColumn("_dot", F.round(dot_expr(out_vec, "pvec"), 6))
            .groupBy(out_id)
            .agg(
                F.sum(
                    F.when(
                        F.col("_dot") > 0,
                        # SQL shiftleft takes a column shift amount;
                        # the pyspark wrapper would demand an int
                        F.expr("shiftleft(1, p)").cast("long"),
                    ).otherwise(F.lit(0).cast("long"))
                ).alias("bucket"),
                F.any_value(F.col(out_vec)).alias(out_vec),
            )
        )

    # width pin: the bucketed corpus is bytes-small after the agg and
    # AQE would coalesce it, single-threading the CPU-heavy candidate
    # cosines (the pivot-IVF lesson)
    cb = ensure_parallelism(bucketed(corpus, "neighbor_id", "cvec"), "neighbor_id")
    qb = bucketed(queries, "query_id", "qvec")
    if probes >= 1:
        masks = [1 << p for p in range(n_planes)]
        if probes >= 2:
            masks += [
                (1 << p) | (1 << q)
                for p in range(n_planes)
                for q in range(p + 1, n_planes)
            ]
        # masks are pairwise-distinct nonzero XORs, so probe buckets
        # never collide and a candidate pair still meets at most once
        flips = ", ".join(f"bucket ^ {m}L" for m in masks)
        qb = qb.withColumn(
            "bucket", F.expr(f"explode(array(bucket, {flips}))")
        )
    scored = (
        cb.join(broadcast(qb), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(cosine_expr("qvec", "cvec"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def label_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    out_col: str = "centroid",
) -> DataFrame:
    """Per-group mean embedding (class centroids — nearest-centroid
    classification, cluster summaries, IVF-style coarse codebooks).

    posexplode → groupBy(group, position) exact-decimal mean →
    re-collect ordered by position: two shuffles, both on small keys,
    deterministic at any parallelism.  Components round(6) before the
    decimal sum so Spark and the SQL oracle accumulate identical
    values.
    """
    exploded = df.select(
        F.col(group_col).alias("g"),
        F.posexplode(F.col(vec_col)).alias("pos", "v"),
    )
    per_dim = exploded.groupBy("g", "pos").agg(
        F.round(
            F.sum(F.round(F.col("v").cast("double"), 6).cast("decimal(27,6)"))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("m")
    )
    return (
        per_dim.groupBy("g")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos").alias("_k"), F.col("m").alias("_v")))
                ),
                lambda s: s["_v"],
            ).alias(out_col),
            F.count(F.lit(1)).alias("dim"),
        )
        .select(F.col("g").alias(group_col), out_col, "dim")
    )


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "qvec",
    scale_col: str = "scale",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column: per-vector
    scale = absmax/127, q_i = round(x_i / scale) in [-127, 127].
    Cuts embedding storage/shuffle width 4x for ANN at 100 TB; the
    companion ``dequantize`` restores approximate doubles.

    The absmax is barrier-materialized (functions.with_materialized):
    referenced from inside the quantize lambda, an inlined absmax
    would re-reduce the whole vector per element.
    """
    from fuel_spark.functions import with_materialized

    absmax = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    )
    out = with_materialized(
        df, "_amax", F.greatest(absmax, F.lit(1e-30))
    )
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * 127.0 / F.col("_amax"))
        .cast("int"),
    )
    return (
        out.withColumn(q_col, q)
        .withColumn(scale_col, F.col("_amax") / F.lit(127.0))
        .drop("_amax")
    )


def dequantize_int8(
    df: DataFrame, q_col: str = "qvec", scale_col: str = "scale",
    out_col: str = "dq",
) -> DataFrame:
    """Inverse of ``quantize_int8``: x_i ~ q_i * scale."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(q_col), lambda q: q.cast("double") * F.col(scale_col)
        ),
    )


def quantized_ann(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 8,
) -> DataFrame:
    """Approximate top-k over the INT8-quantized corpus: sign-sketch
    blocking bounds the candidate set, then scoring runs entirely on
    quantized vectors — the integer dot product q_a·q_b rescales to an
    approximate float dot via scale_a*scale_b.

    This is :func:`sign_block_ann` with the 4× narrower shuffle/store
    payload that :func:`quantize_int8` exists for: at 100 TB the
    corpus ships as int8 arrays + one double scale per vector, and
    full-precision embeddings never enter the join.  Ranking is by
    approximate score (int math + one per-pair multiply, both
    engine-portable); recall vs exact rerank is property-tested.
    Output: query_id, neighbor_id, approx_dot (round 6), rank.
    """
    cq = quantize_int8(sign_sketch(corpus, vec_col, bits), vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("qvec").alias("cq"),
        F.col("scale").alias("cscale"), F.col("sign_bucket"),
    )
    qq = quantize_int8(sign_sketch(queries, vec_col, bits), vec_col).select(
        F.col(id_col).alias("query_id"), F.col("qvec").alias("qq"),
        F.col("scale").alias("qscale"), F.col("sign_bucket"),
    )
    # integer dot of the two int8 arrays, then one rescale multiply
    int_dot = F.aggregate(
        F.zip_with(F.col("qq"), F.col("cq"), lambda a, b: (a * b).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = (
        broadcast(qq)
        .join(cq, "sign_bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "approx_dot",
            F.round(
                int_dot.cast("double") * F.col("qscale") * F.col("cscale"), 6
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dot").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_dot", "rank")
    )


def pq_fit(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k_codes: int = 16,
    sample_n: int = 4096,
    seed: int = 42,
    iters: int = 20,
) -> list:
    """Train product-quantization codebooks: split the vector into
    ``m`` subspaces and Lloyd-iterate ``k_codes`` centroids per
    subspace on a deterministic sample (driver-side numpy — same
    sampled-fit contract as the IVF coarse quantizer in ml.py:
    codebook quality needs thousands of points, not the corpus, so
    the fit cost is constant while encode/search stay distributed).

    Returns ``codebooks[m][k_codes][d/m]`` as plain Python floats,
    ready to embed as JVM literals in :func:`pq_encode` /
    :func:`pq_ann`.
    """
    import numpy as np

    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.md5(F.concat(F.lit(str(seed)), F.col(id_col).cast("string"))))
        .limit(sample_n)
        .collect()
    )
    X = np.array([list(r[1]) for r in rows], dtype=np.float64)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.RandomState(seed)
    books = []
    for i in range(m):
        S = X[:, i * dsub:(i + 1) * dsub]
        C = S[rng.choice(len(S), size=min(k_codes, len(S)), replace=False)].copy()
        for _ in range(iters):
            # argmin_j ||s - c_j||^2 = argmin_j (||c_j||^2 - 2 s.c_j):
            # one GEMM per iteration instead of a (n, k, dsub) temp
            d2 = (C ** 2).sum(-1)[None, :] - 2.0 * (S @ C.T)
            assign = d2.argmin(1)
            sums = np.zeros_like(C)
            np.add.at(sums, assign, S)
            cnt = np.bincount(assign, minlength=len(C))
            nz = cnt > 0
            C[nz] = sums[nz] / cnt[nz, None]
        books.append([[float(x) for x in row] for row in C])
    return books


def _pq_lit(codebooks) -> F.Column:
    """codebooks → one array<array<array<double>>> literal (a few KB:
    m*k*dsub doubles — constant-folded, broadcast with the plan).

    Built as ONE parsed SQL string, not nested F.array/F.lit calls:
    the combinator form creates m*k*dsub (thousands) of py4j Column
    round-trips and dominated ann_pq wall-clock — 3.4s of driver-side
    plan construction against 0.7s of execution, measured.  repr()
    round-trips doubles exactly and Spark's `D` suffix parses them as
    doubles, so the literal is bit-identical either way."""

    def _d(v: float) -> str:
        r = repr(float(v))
        return f"{r}D" if ("e" in r or "." in r) else f"{r}.0D"

    s = ", ".join(
        "array(" + ", ".join(
            "array(" + ", ".join(_d(v) for v in cent) + ")" for cent in book
        ) + ")"
        for book in codebooks
    )
    return F.expr(f"array({s})")


def pq_encode(
    df: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
    norm_col: str = "recon_norm",
) -> DataFrame:
    """Encode each vector to ``m`` small codes (nearest sub-centroid
    per subspace) + the reconstruction norm.

    Storage/shuffle width per vector drops from 4*d bytes to m bytes
    + one double — at 100 TB the encoded corpus is what ships into
    the ANN join, never the raw embeddings (same motive as
    quantize_int8, ~16x narrower here).

    Encode is the one dense numeric kernel in the ANN family — m*k
    distance folds per row.  Higher-order-function lambdas are
    interpreted (no whole-stage codegen for HOFs), so an expression
    argmin caps at ~1M lambda evals/s/core (measured: 7s for 2k rows
    at m=16,k=64); the Arrow-batched numpy kernel does the same work
    as one matrix multiply per subspace (the faiss shape) in
    milliseconds.  This is exactly the sanctioned Python tier: no
    per-row state, one BLAS call per Arrow batch.  Everything
    downstream (ADC lookup scoring, rerank) stays in JVM expressions.

    argmin tie-break: lowest code index (numpy argmin first-hit).
    recon_norm falls out of the chosen centroids' precomputed norms
    (subspaces are an orthogonal decomposition, so ||x_hat||^2 =
    sum of sub-centroid norms^2).
    """
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    C = np.asarray(codebooks, dtype=np.float64)  # (m, k, dsub)
    m, _k, dsub = C.shape
    cn2 = (C ** 2).sum(-1)  # (m, k) centroid norms^2

    id_field = df.schema[id_col]
    out_schema = (
        f"{id_col} {id_field.dataType.simpleString()}, "
        f"{codes_col} array<int>, {norm_col} double"
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([
                np.asarray(a, dtype=np.float64) for a in pdf[vec_col]
            ]).reshape(len(pdf), m, dsub)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for i in range(m):
                # argmin_j ||x - c_j||^2 = argmin_j (||c_j||^2 - 2 x.c_j)
                d = cn2[i][None, :] - 2.0 * (X[:, i, :] @ C[i].T)
                codes[:, i] = d.argmin(axis=1)
            recon = np.sqrt(cn2[np.arange(m)[None, :], codes].sum(axis=1))
            yield pd.DataFrame({
                id_col: pdf[id_col],
                codes_col: list(codes.tolist()),
                norm_col: recon,
            })

    return df.select(id_col, vec_col).mapInPandas(encode, out_schema)


def pq_ann(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    k_codes: int = 16,
    codebooks: list | None = None,
    encoded: DataFrame | None = None,
    sample_n: int = 4096,
    seed: int = 42,
    rerank: int = 0,
) -> DataFrame:
    """Approximate top-k cosine via PQ asymmetric distance (ADC):
    each query precomputes an m*k lookup table of sub-inner-products
    against the codebooks, then every corpus vector scores as m table
    lookups over its codes — no per-pair float dot product, and the
    corpus side of the join carries only (id, m codes, recon_norm).

    ``rerank=R`` adds the standard refine stage (IVF-PQ+refine shape):
    the ADC pass keeps a top-R shortlist per query, and only those
    R*|queries| full vectors are fetched for an exact cosine re-rank —
    so the lossy codes bound recall while the exact math touches a
    vanishing fraction of the corpus.  Scores in the output are then
    exact cosines.

    Pass ``codebooks``/``encoded`` to reuse a persisted index (the
    production shape: fit once, encode once, search many).  The scan
    is full-corpus ADC (IVF-flat-without-lists); compose with
    sign_sketch blocking or ivf_ann lists to cut candidates further —
    the encoded frame keeps whatever bucket columns it came with.
    Output: query_id, neighbor_id, score (round 6), rank.
    """
    from fuel_spark.functions import with_materialized

    if codebooks is None:
        codebooks = pq_fit(corpus, id_col, vec_col, m, k_codes, sample_n, seed)
    m = len(codebooks)
    k_codes = len(codebooks[0])
    dsub = len(codebooks[0][0])
    if encoded is None:
        encoded = pq_encode(corpus, codebooks, id_col, vec_col)
    c = ensure_parallelism(
        encoded.select(
            F.col(id_col).alias("neighbor_id"), "pq_codes", "recon_norm"
        )
    )

    cb = _pq_lit(codebooks)
    qvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # hoisted subvectors, same reason as pq_encode: the dot-product
    # lambda must only touch bound variables, not re-slice per (i, j)
    qsubs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda i: F.slice(qvec, i * dsub + 1, dsub),
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col))
    q = with_materialized(q, "_qsubs", qsubs)
    lut = F.flatten(
        F.transform(
            F.col("_qsubs"),
            lambda sub, i: F.transform(
                F.sequence(F.lit(0), F.lit(k_codes - 1)),
                lambda j: F.aggregate(
                    F.zip_with(
                        sub,
                        F.element_at(F.element_at(cb, i + 1), j + 1),
                        lambda a, b: a * b,
                    ),
                    F.lit(0.0),
                    lambda s, v: s + v,
                ),
            ),
        )
    )
    qnorm = F.sqrt(
        F.aggregate(
            F.transform(qvec, lambda x: x * x), F.lit(0.0), lambda s, v: s + v
        )
    )
    q = with_materialized(q, "_lut", lut)
    q = broadcast(q.select("query_id", "_lut", qnorm.alias("_qnorm")))

    adc = F.aggregate(
        F.zip_with(
            F.col("pq_codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c_, i: F.element_at(F.col("_lut"), i * k_codes + c_ + 1),
        ),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    scored = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "score",
            F.round(
                adc / (F.col("_qnorm") * F.greatest(F.col("recon_norm"), F.lit(1e-30))),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    top = (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= max(k, rerank))
        .select("query_id", "neighbor_id", "score", "rank")
    )
    if rerank <= 0:
        return top

    # refine: exact cosine over the R*|queries| shortlist only — the
    # shortlist is broadcast, so the corpus-side fetch of full vectors
    # is one broadcast hash join (no shuffle of the corpus)
    cand = broadcast(top.select("query_id", "neighbor_id"))
    full = cand.join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
        ),
        "neighbor_id",
    )
    qfull = broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    )
    rer = full.join(qfull, "query_id").withColumn(
        "score", F.round(cosine_expr("qvec", "cvec"), 6)
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(w2).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def save_pq_index(encoded: DataFrame, path: str) -> None:
    """Persist a PQ-encoded corpus (id, pq_codes, recon_norm) as the
    on-disk search index — with the codebooks (tiny, store alongside)
    this is everything pq_ann needs; the raw embeddings are only
    touched again by the exact-cosine rerank fetch."""
    encoded.write.mode("overwrite").parquet(path)


def load_pq_index(spark, path: str) -> DataFrame:
    """Reload a persisted PQ index for :func:`pq_ann`'s ``encoded``."""
    return spark.read.parquet(path)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query,
    the ``k`` most-similar corpus rows with a DIFFERENT label — the
    near-misses that make the strongest training signal (easy random
    negatives are solved in a few epochs; hard ones define the
    boundary).

    Same shape as :func:`cosine_topk` (broadcast queries, one score
    pass, rank bounded by k) with the label-mismatch predicate pushed
    into the scoring join; at scale swap the scan for a blocked
    candidate source (sign/IVF/PQ) and keep the rank stage.
    Output: query_id, neighbor_id, neighbor_label, cosine, rank.
    """
    q = broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.col(label_col).alias("_qlab"),
        )
    )
    c = ensure_parallelism(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
            F.col(label_col).alias("neighbor_label"),
        )
    )
    scored = (
        q.crossJoin(c)
        .where(F.col("_qlab") != F.col("neighbor_label"))
        .withColumn("cosine", F.round(cosine_expr("qvec", "cvec"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "neighbor_label", "cosine", "rank")
    )


def sample_negatives(
    df: DataFrame,
    id_col: str = "vec_id",
    k: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Seeded random negatives: for each row, ``k`` deterministic
    pseudo-random OTHER ids drawn by md5 over a dense id domain — the
    cheap uniform tier next to :func:`hard_negatives` (InfoNCE-style
    batches mix both).

    The id-domain size rides along as a broadcast 1-row relation;
    `md5(seed, id, j) % n` is engine-portable (the oracle reproduces
    it bit-for-bit), collisions with the anchor are skipped (so a row
    yields k or k-1 negatives).  Assumes dense ids 0..n-1 (the
    engine's id normalization, cf. schemes); remap first otherwise.
    No join, no shuffle: one explode + modulo per row.
    """
    n = df.agg(F.count(F.lit(1)).alias("_n"))
    exploded = (
        df.select(F.col(id_col))
        .crossJoin(F.broadcast(n))
        .select(
            id_col,
            "_n",
            F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("j"),
        )
    )
    h = F.expr(
        f"CAST(conv(substring(md5(concat('{seed}', ':', CAST({id_col} AS STRING),"
        f" ':', CAST(j AS STRING))), 1, 12), 16, 10) AS BIGINT)"
    )
    return (
        exploded.withColumn("neg_id", h % F.col("_n"))
        .where(F.col("neg_id") != F.col(id_col))
        .select(id_col, "j", "neg_id")
    )


def norm_extremes(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Embedding-norm outlier report: the k largest and k smallest L2
    norms with their rank — the quick sanity screen for degenerate
    vectors (zero/huge norms signal encoder failures or corrupt rows)
    before any cosine-based stage trusts the column.

    The norm is a per-row projection (strict left-to-right double
    fold, identical in the oracle); each extreme side is a TakeOrdered
    top-k over that projection — no global sort materializes, the
    cluster keeps k rows per partition and merges.  Ranks tie-break on
    the id for cross-engine determinism.
    """
    from fuel_spark.functions import norm2_expr

    norms = ensure_parallelism(df.select(id_col, vec_col)).select(
        F.col(id_col), F.round(norm2_expr(vec_col), 6).alias("vec_norm")
    )
    hi = norms.orderBy(F.desc("vec_norm"), F.asc(id_col)).limit(k)
    lo = norms.orderBy(F.asc("vec_norm"), F.asc(id_col)).limit(k)
    # one window over both 2k-row sides: negate the norm on the "high"
    # side so a single ascending key ranks each side in its own order
    rank = Window.partitionBy("side").orderBy(
        F.when(F.col("side") == "high", -F.col("vec_norm")).otherwise(
            F.col("vec_norm")
        ).asc(),
        F.asc(id_col),
    )
    return (
        hi.withColumn("side", F.lit("high"))
        .unionByName(lo.withColumn("side", F.lit("low")))
        .withColumn("rank", F.row_number().over(rank))
        .select("side", "rank", id_col, "vec_norm")
    )


def dim_stats(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension embedding profile: min / max / exact-decimal mean
    for every coordinate — the column-profiler analogue for vector
    columns (dead dimensions, scale skew, and clipped values show up
    here before they poison distance metrics).

    posexplode streams |rows| x dim values into one map-side-combinable
    rollup keyed by the dimension index; per-value rounding before the
    DECIMAL sum keeps the means bit-deterministic at any parallelism
    (same contract as label_centroids).
    """
    vals = ensure_parallelism(df.select(vec_col)).select(
        F.posexplode(vec_col).alias("dim", "_v")
    ).select(
        "dim",
        F.round(F.col("_v").cast("double"), 6)
        .cast("decimal(27,6)")
        .alias("v"),
    )
    return (
        vals.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("v").cast("double"), 6).alias("min_v"),
            F.round(F.max("v").cast("double"), 6).alias("max_v"),
            F.round(
                F.sum("v").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_v"),
        )
        .orderBy("dim")
    )


def adjacent_cosine_histogram(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket: float = 0.1,
) -> DataFrame:
    """Embedding-space health histogram: cosine similarity between
    id-adjacent vectors (a deterministic linear sample of pairs — no
    quadratic stage), bucketed into fixed-width bins.

    A healthy unstructured space concentrates near 0; a collapsed
    encoder (all vectors alike) pushes mass to 1.  One self-join on
    the shifted id — both sides share the id partitioning — then a
    |buckets|-row rollup.
    """
    a = df.select(F.col(id_col).alias("_ida"), F.col(vec_col).alias("va"))
    b = df.select(
        (F.col(id_col) - 1).alias("_ida"), F.col(vec_col).alias("vb")
    )
    cos = F.round(cosine_expr("va", "vb"), 6)
    lo = (F.floor(cos / bucket) * bucket).cast("double")
    return (
        a.join(b, "_ida")
        .select(F.round(lo, 6).alias("bucket_lo"))
        .groupBy("bucket_lo")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("bucket_lo")
    )


def quantization_error(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Int8 round-trip error certificate: per-vector max relative
    reconstruction error |x − dq(q(x))| / absmax, reduced to a 1-row
    corpus summary — the go/no-go check before shipping the 4×
    narrower index.

    The theoretical bound for symmetric int8 is 0.5/127 ≈ 0.003937 of
    absmax; the max observed here certifies it.  Pure per-row
    projection + one global agg (rounded-decimal mean, exact max).
    """
    from fuel_spark.functions import with_materialized

    absmax = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    )
    d = with_materialized(
        ensure_parallelism(df.select(vec_col)), "_amax",
        F.greatest(absmax, F.lit(1e-30)),
    )
    dq = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * 127.0 / F.col("_amax"))
        * (F.col("_amax") / 127.0),
    )
    d = with_materialized(d, "_dq", dq)
    rel_err = (
        F.array_max(
            F.zip_with(
                F.col(vec_col),
                F.col("_dq"),
                lambda x, y: F.abs(x.cast("double") - y),
            )
        )
        / F.col("_amax")
    )
    per_vec = d.select(F.round(rel_err, 9).alias("rel_err"))
    return per_vec.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.max("rel_err"), 9).alias("max_rel_err"),
        F.round(
            F.sum(F.col("rel_err").cast("decimal(27,9)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("avg_rel_err"),
    )


def label_separation(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space label separation: per label, the mean cosine of
    members to their own centroid vs to the global centroid — the
    classifier-free clusterability readout (own ≫ global means the
    labels are separable in this space).

    Centroids come from :func:`label_centroids`' exact-decimal means
    (|labels|+1 rows — broadcast); the member pass is one scan with
    per-row JVM cosine, then a |labels|-row rollup.  Means sum
    rounded decimals, so the report is bit-deterministic.
    """
    from fuel_spark.functions import cosine_expr

    cents = label_centroids(df, label_col, vec_col)
    own = cents.select(F.col(label_col), F.col("centroid").alias("_own"))
    gmean = (
        df.select(F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("pos")
        .agg(
            F.round(
                F.sum(F.round(F.col("v").cast("double"), 6).cast("decimal(27,6)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("g")
        )
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("pos", "g"))).alias("_gs"))
        .select(F.expr("transform(_gs, s -> s.g)").alias("_global"))
    )
    scored = (
        ensure_parallelism(df.select(label_col, vec_col))
        .join(broadcast(own), label_col)
        .crossJoin(broadcast(gmean))
        .select(
            F.col(label_col),
            F.round(cosine_expr(vec_col, "_own"), 6)
            .cast("decimal(27,6)")
            .alias("_co"),
            F.round(cosine_expr(vec_col, "_global"), 6)
            .cast("decimal(27,6)")
            .alias("_cg"),
        )
    )
    return (
        scored.groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(
                F.sum("_co").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_cos_own"),
            F.round(
                F.sum("_cg").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_cos_global"),
        )
        .orderBy(label_col)
    )


def centroid_confusion(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Inter-centroid cosine matrix: which label pairs sit close in
    embedding space (the confusion-risk readout that complements
    :func:`label_separation`'s per-label view).

    The |labels| centroid table is tiny by construction, so the pair
    join is a broadcast self-join over aggregate rows — the corpus is
    touched exactly once (inside label_centroids).
    """
    from fuel_spark.functions import cosine_expr

    cents = label_centroids(df, label_col, vec_col)
    a = cents.select(
        F.col(label_col).alias("label_a"), F.col("centroid").alias("_ca")
    )
    b = cents.select(
        F.col(label_col).alias("label_b"), F.col("centroid").alias("_cb")
    )
    return (
        a.join(broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(cosine_expr("_ca", "_cb"), 6).alias("centroid_cosine"),
        )
        .orderBy("label_a", "label_b")
    )


def block_size_profile(
    df: DataFrame, vec_col: str = "embedding", bits: int = 16
) -> DataFrame:
    """Blocking-health profile for the sign-sketch family: histogram
    of block sizes (how many vectors share each sketch) — the
    dashboard that says whether SemDeDup / sign-block ANN will see
    balanced blocks or needs `max_block` to kick in.

    Two map-side-combinable rollups over at most 2^bits groups; zero
    joins.
    Output: block_size, n_blocks, n_vectors, share_of_corpus.
    """
    from pyspark.sql import Window as W

    blocks = sign_sketch(df.select(vec_col), vec_col, bits).groupBy(
        "sign_bucket"
    ).agg(F.count(F.lit(1)).alias("block_size"))
    h = blocks.groupBy("block_size").agg(F.count(F.lit(1)).alias("n_blocks"))
    total = F.sum(F.col("block_size") * F.col("n_blocks")).over(W.partitionBy())
    return (
        h.select(
            "block_size",
            "n_blocks",
            (F.col("block_size") * F.col("n_blocks")).alias("n_vectors"),
            F.round(
                (F.col("block_size") * F.col("n_blocks")).cast("double")
                / total,
                6,
            ).alias("share_of_corpus"),
        )
        .orderBy("block_size")
    )


def knn_label_purity(
    corpus: DataFrame,
    queries: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """kNN label purity: for each query, the share of its exact top-k
    cosine neighbors carrying the query's own label — the
    training-free classification-accuracy proxy for an embedding
    space (purity ≈ 1/|labels| means the space carries no label
    signal).

    Reuses :func:`cosine_topk`'s broadcast-query scan; the two label
    lookups join the (tiny) query set and the top-k rows only.
    Output: query_id, query_label, n_neighbors, n_same_label, purity.
    """
    top = cosine_topk(corpus, queries, id_col=id_col, vec_col=vec_col, k=k)
    qlab = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("query_label")
    )
    nlab = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("_nlabel"),
    )
    return (
        top.join(broadcast(qlab), "query_id")
        .join(nlab, "neighbor_id")
        .groupBy("query_id", "query_label")
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.sum(
                F.when(F.col("_nlabel") == F.col("query_label"), 1).otherwise(0)
            ).alias("n_same_label"),
        )
        .withColumn(
            "purity",
            F.round(
                F.col("n_same_label").cast("double") / F.col("n_neighbors"), 6
            ),
        )
        .orderBy("query_id")
    )


def norm_by_label(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label L2-norm profile (count, min/max, exact-decimal mean)
    — scale skew BETWEEN classes distorts cosine-free distance
    metrics and flags per-class encoder drift that the global
    dim_stats view averages away.

    One per-row norm projection + a |labels|-row rollup.
    """
    from fuel_spark.functions import norm2_expr

    norms = ensure_parallelism(df.select(label_col, vec_col)).select(
        F.col(label_col),
        F.round(norm2_expr(vec_col), 6).cast("decimal(27,6)").alias("v"),
    )
    return (
        norms.groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.min("v").cast("double"), 6).alias("min_norm"),
            F.round(F.max("v").cast("double"), 6).alias("max_norm"),
            F.round(
                F.sum("v").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_norm"),
        )
        .orderBy(label_col)
    )


def pivot_ivf_ann(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_pivots: int = 8,
    nprobe: int = 4,
) -> DataFrame:
    """Deterministic IVF top-k: the coarse quantizer is the
    ``n_pivots`` lowest-id corpus vectors themselves (pivot-based
    inverted file — no k-means fit), so the ENTIRE search (assignment,
    probing, list scan, rerank) is SQL-expressible and the query is
    oracle-checkable end to end, recall certificate included.  The
    k-means tier (:func:`fuel_spark.ml.ivf_ann`) stays the quality
    path; this tier exists to pin the IVF *search mechanics* —
    probe-limited candidate generation, exact rerank inside probed
    lists — under the exact-hash gate.

    Scale shape: pivots are a TakeOrdered constant (broadcast);
    assignment is one broadcast nested-loop pass over the corpus
    (N x n_pivots rows) reduced by a groupBy argmin — lexicographic
    ``min(struct(-cos, pivot_id))``, partial-combined map-side, NO
    fact-wide window shuffle; the probe table (Q x nprobe rows) is
    broadcast back against the assigned corpus, so the only wide
    exchange is the per-query top-k window over probed candidates
    (~nprobe/n_pivots of the corpus per query), same shape as
    :func:`cosine_topk`.  Output: query_id, neighbor_id, cosine, rank.
    """
    pivots = broadcast(
        corpus.select(
            F.col(id_col).alias("pivot_id"), F.col(vec_col).alias("pvec")
        )
        .orderBy("pivot_id")
        .limit(n_pivots)
    )
    c = ensure_parallelism(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    )
    # assignment: nearest pivot by (rounded) cosine, ties to the
    # lowest pivot id — min(struct(-cos, pivot_id)) is the argmin with
    # a deterministic tie-break and map-side partial aggregation.
    # Width pin after the agg: the assigned frame is bytes-small, AQE
    # would coalesce it and single-thread the CPU-heavy candidate
    # cosines downstream (measured 2.5x on the 20x smoke for the PQ
    # sibling).
    assigned = ensure_parallelism(
        c.crossJoin(pivots)
        .withColumn("_negcos", -F.round(cosine_expr("cvec", "pvec"), 6))
        .groupBy("neighbor_id")
        .agg(
            F.min(F.struct(F.col("_negcos"), F.col("pivot_id"))).alias("_m"),
            F.any_value("cvec").alias("cvec"),
        )
        .select(
            "neighbor_id", "cvec", F.col("_m.pivot_id").alias("bucket")
        ),
        "neighbor_id",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("_pcos").desc(), F.col("pivot_id")
    )
    probes = (
        q.crossJoin(pivots)
        .withColumn("_pcos", F.round(cosine_expr("qvec", "pvec"), 6))
        .withColumn("_pr", F.row_number().over(w_probe))
        .where(F.col("_pr") <= nprobe)
        .select("query_id", "qvec", F.col("pivot_id").alias("bucket"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        assigned.join(broadcast(probes), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(cosine_expr("qvec", "cvec"), 6))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def pivot_pq_ann(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    m: int = 4,
    n_codes: int = 8,
    shortlist: int = 20,
) -> DataFrame:
    """Deterministic product-quantization top-k: subspace codebooks
    are the sub-slices of the ``n_codes`` lowest-id corpus vectors
    (no k-means fit), so encode (per-subspace L2 argmin), ADC scoring
    (sum of per-subspace dots against the codewords) and the exact
    rerank are all SQL-expressible — the PQ *search mechanics* under
    the exact-hash gate, complementing the fitted tier
    (:func:`pq_ann`) the same way :func:`pivot_ivf_ann` complements
    ``ml.ivf_ann``.  Jegou et al. 2011 (PQ/ADC), with pivots standing
    in for trained centroids.

    Scale shape: the codebook is a broadcast constant (n_codes x m
    rows); encode is one broadcast pass over the corpus
    (N x n_codes x m rows) reduced by groupBy argmin with map-side
    partial combine — the stored index is m one-byte-ish codes per
    vector, 16x narrower than raw floats at the production m=16; ADC
    joins are all against broadcast constants; per-subspace dots are
    summed in DECIMAL(27,6) so the coarse score is
    summation-order-independent (bit-stable under any partitioning —
    and engine-exact vs the DuckDB twin); only the shortlist
    (Q x shortlist rows, broadcast) returns to the full corpus for
    the exact rerank.  Output: query_id, neighbor_id, cosine, rank.
    """
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    sub = dim // m
    from fuel_spark.functions import dot_expr, l2sq_expr

    subspaces = F.array([F.lit(j) for j in range(m)])
    # codebook: (pivot_id, j, sub_vec) — n_codes*m tiny rows
    books = broadcast(
        corpus.select(
            F.col(id_col).alias("pivot_id"), F.col(vec_col).alias("pvec")
        )
        .orderBy("pivot_id")
        .limit(n_codes)
        .select("pivot_id", F.explode(subspaces).alias("j"), "pvec")
        .select(
            "pivot_id",
            "j",
            F.expr(f"slice(pvec, j * {sub} + 1, {sub})").alias("sub_vec"),
        )
    )
    c = ensure_parallelism(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    )
    # encode: per (vector, subspace) the L2-nearest codeword, ties to
    # the lowest pivot id — groupBy argmin, no window over fact rows.
    # Width pin: the code frame is 3 small ints per row, AQE's
    # byte-based coalesce folds it to ~1 partition and single-threads
    # the ADC dot stage downstream (measured 4.0s vs 1.6s at the 20x
    # smoke).
    enc = ensure_parallelism(
        c.select(
            "neighbor_id", F.explode(subspaces).alias("j"),
            F.expr(f"slice(cvec, j * {sub} + 1, {sub})").alias("csub"),
        )
        .join(broadcast(books), "j")
        .withColumn("_d", F.round(l2sq_expr("csub", "sub_vec"), 6))
        .groupBy("neighbor_id", "j")
        .agg(F.min(F.struct(F.col("_d"), F.col("pivot_id"))).alias("_m"))
        .select("neighbor_id", "j", F.col("_m.pivot_id").alias("code")),
        "neighbor_id",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    qsubs = broadcast(
        q.select(
            "query_id", F.explode(subspaces).alias("j"),
            F.expr(f"slice(qvec, j * {sub} + 1, {sub})").alias("qsub"),
        )
    )
    # ADC: coarse(q, x) = sum_j dot(q_j, codeword(x, j)); each dot is
    # rounded then summed exactly in DECIMAL so the coarse ordering is
    # independent of partition/summation order
    coarse = (
        enc.join(
            broadcast(books.select(F.col("pivot_id").alias("code"), "j", "sub_vec")),
            ["code", "j"],
        )
        .join(qsubs, "j")
        .withColumn(
            "_dot",
            F.round(dot_expr("qsub", "sub_vec"), 6).cast("decimal(27,6)"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("_dot").cast("double").alias("coarse"))
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("coarse").desc(), F.col("neighbor_id")
    )
    short = (
        coarse.where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_sr", F.row_number().over(w_short))
        .where(F.col("_sr") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        c.join(broadcast(short), "neighbor_id")
        .join(broadcast(q), "query_id")
        .withColumn("cosine", F.round(cosine_expr("qvec", "cvec"), 6))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def silhouette_by_label(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Centroid silhouette per label (the medoid-free variant of
    Rousseeuw 1987): for each vector a = L2 distance to its own label
    centroid, b = min distance to any OTHER centroid, s = (b−a) /
    max(a,b) — the cluster-cohesion score that says whether labels are
    embedding-tight (s → 1), boundary-blurred (s ≈ 0) or misassigned
    (s < 0).  The full pairwise silhouette is n²; the centroid variant
    is the standard linear-time stand-in at corpus scale (stated).

    One corpus pass: the k-row centroid table (ops.similarity.
    label_centroids — deterministic round-6 components) broadcast-
    crossjoins the vectors (k× expansion, k bounded by the label
    dimension), a/b fall out of one conditional aggregate, per-label
    means sum round-9 DECIMAL.  Degenerate max(a,b)=0 → s=0 (stated).

    Output: label, n, mean_a, mean_b, silhouette (round 6), by label.
    """
    from fuel_spark.functions import l2sq_expr

    cents = label_centroids(df, label_col, vec_col).select(
        F.col(label_col).alias("_cl"), F.col("centroid").alias("_c")
    )
    x = df.select(
        "vec_id", F.col(label_col).alias("label"), F.col(vec_col).alias("_v")
    )
    d = x.crossJoin(broadcast(cents)).select(
        "vec_id",
        "label",
        "_cl",
        F.sqrt(l2sq_expr("_v", "_c")).alias("_d"),
    )
    ab = d.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("_cl") == F.col("label"), F.col("_d"))).alias("_a"),
        F.min(F.when(F.col("_cl") != F.col("label"), F.col("_d"))).alias("_b"),
    )
    s = F.when(F.greatest("_a", "_b") <= 0, F.lit(0.0)).otherwise(
        (F.col("_b") - F.col("_a")) / F.greatest("_a", "_b")
    )
    terms = ab.select(
        "label",
        F.round("_a", 9).cast("decimal(27,18)").alias("_ta"),
        F.round("_b", 9).cast("decimal(27,18)").alias("_tb"),
        F.round(s, 9).cast("decimal(27,18)").alias("_ts"),
    )
    return (
        terms.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("_ta").cast("double") / F.count(F.lit(1)), 6).alias(
                "mean_a"
            ),
            F.round(F.sum("_tb").cast("double") / F.count(F.lit(1)), 6).alias(
                "mean_b"
            ),
            F.round(F.sum("_ts").cast("double") / F.count(F.lit(1)), 6).alias(
                "silhouette"
            ),
        )
        .orderBy("label")
    )


def davies_bouldin_by_label(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Davies–Bouldin cluster-validity index over the label partition
    (Davies & Bouldin 1979): per-label scatter S_i = mean member→own-
    centroid distance, similarity R_ij = (S_i+S_j)/‖c_i−c_j‖, the
    per-label worst-pair ratio max_j R_ij, and the index DB = mean of
    those maxima — lower = tighter/better-separated labels; the
    embedding-space QA twin of :func:`silhouette_by_label` that
    weights by cluster spread instead of per-point margins.

    One corpus pass for scatters (each vector joins ONLY its own
    centroid — a broadcast k-row equi-join, no k× expansion); the
    R matrix is k², built from two broadcast aggregate frames.
    Coincident centroids guard to 1e−300 (R explodes by design —
    stated, the index is undefined there).  Round-9 DECIMAL sums.

    Output: label, n, scatter, max_ratio, db_index (round 6; the
    index repeated per row), by label.
    """
    from fuel_spark.functions import l2sq_expr

    cents = label_centroids(df, label_col, vec_col).select(
        F.col(label_col).alias("_cl"), F.col("centroid").alias("_c")
    )
    cents = materialize(cents)  # scatters + both pair sides
    x = df.select(F.col(label_col).alias("_cl"), F.col(vec_col).alias("_v"))
    scat = (
        x.join(broadcast(cents), "_cl")
        .select(
            "_cl",
            F.round(F.sqrt(l2sq_expr("_v", "_c")), 9)
            .cast("decimal(27,18)")
            .alias("_t"),
        )
        .groupBy("_cl")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (F.sum("_t").cast("double") / F.count(F.lit(1))).alias("_s"),
        )
    )
    ci = cents.select(F.col("_cl").alias("_li"), F.col("_c").alias("_ci"))
    cj = cents.select(F.col("_cl").alias("_lj"), F.col("_c").alias("_cj"))
    pair = (
        ci.crossJoin(broadcast(cj))
        .where(F.col("_li") != F.col("_lj"))
        .select(
            "_li",
            "_lj",
            F.greatest(
                F.sqrt(l2sq_expr("_ci", "_cj")), F.lit(1e-300)
            ).alias("_m"),
        )
    )
    si = scat.select(F.col("_cl").alias("_li"), F.col("_s").alias("_si"))
    sj = scat.select(F.col("_cl").alias("_lj"), F.col("_s").alias("_sj"))
    r = (
        pair.join(F.broadcast(si), "_li")
        .join(F.broadcast(sj), "_lj")
        .groupBy("_li")
        .agg(
            F.max(
                (F.col("_si") + F.col("_sj")) / F.col("_m")
            ).alias("_maxr")
        )
    )
    db = r.agg(
        F.round(
            F.sum(F.round("_maxr", 9).cast("decimal(27,18)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("_db")
    )
    return (
        scat.join(F.broadcast(r), scat._cl == r._li)
        .crossJoin(F.broadcast(db))
        .select(
            F.col("_cl").alias("label"),
            "n",
            F.round("_s", 6).alias("scatter"),
            F.round("_maxr", 6).alias("max_ratio"),
            F.col("_db").alias("db_index"),
        )
        .orderBy("label")
    )


def calinski_harabasz(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Calinski–Harabasz variance-ratio criterion (1974): CH =
    [B/(k−1)] / [W/(n−k)] with B = Σ n_i·‖c_i−c‖² (between-cluster
    scatter, label centroids vs the global centroid) and W = Σ
    ‖x−c_own‖² (within-cluster scatter) — the one-number "are these
    labels real structure" score; higher = better separated.

    Two corpus passes (one inside each centroid build, one for W —
    each vector meets only its OWN centroid via broadcast equi-join);
    B is a k-row aggregate against the broadcast 1-row global
    centroid.  Round-9 DECIMAL scatter sums.  Output: one row — n,
    k, between_ss, within_ss, ch (round 6).
    """
    from fuel_spark.functions import l2sq_expr

    cents = label_centroids(df, label_col, vec_col).select(
        F.col(label_col).alias("_cl"), F.col("centroid").alias("_c")
    )
    gc = label_centroids(
        df.withColumn("_g", F.lit(0)), "_g", vec_col
    ).select(F.col("centroid").alias("_gc"))
    x = df.select(F.col(label_col).alias("_cl"), F.col(vec_col).alias("_v"))
    sizes = x.groupBy("_cl").agg(F.count(F.lit(1)).cast("bigint").alias("_ni"))
    w = (
        x.join(broadcast(cents), "_cl")
        .select(
            F.round(l2sq_expr("_v", "_c"), 9)
            .cast("decimal(27,18)")
            .alias("_t")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("_t").cast("double").alias("_w"),
        )
    )
    b = (
        cents.join(F.broadcast(sizes), "_cl")
        .crossJoin(F.broadcast(gc))
        .select(
            F.round(
                F.col("_ni").cast("double") * l2sq_expr("_c", "_gc"), 9
            )
            .cast("decimal(27,18)")
            .alias("_t")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum("_t").cast("double").alias("_b"),
        )
    )
    return w.crossJoin(F.broadcast(b)).select(
        "n",
        "k",
        F.round("_b", 6).alias("between_ss"),
        F.round("_w", 6).alias("within_ss"),
        F.round(
            (F.col("_b") / (F.col("k").cast("double") - F.lit(1.0)))
            / (
                F.col("_w")
                / (F.col("n").cast("double") - F.col("k").cast("double"))
            ),
            6,
        ).alias("ch"),
    )


def cosine_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact cosine RANGE search: every corpus vector within
    ``threshold`` of each query — the radius twin of
    :func:`cosine_topk` for "give me everything this similar"
    retrieval (dedup sweeps, recall-set construction), where top-k's
    fixed k either truncates dense neighborhoods or pads sparse ones.

    Same scale shape as top-k: broadcast queries × one parallel
    corpus scan, no shuffle at all (the filter replaces the per-query
    rank window — strictly cheaper).  The threshold compares the
    ROUNDED cosine, so the cut is engine-exact.  Output: query_id,
    neighbor_id, cosine (round 6), a row per in-range pair.
    """
    from fuel_spark.functions import cosine_expr, ensure_parallelism

    q = broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        )
    )
    c = ensure_parallelism(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
        )
    )
    return (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr("qvec", "cvec"), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= F.lit(float(threshold)))
        .orderBy("query_id", F.desc("cosine"), "neighbor_id")
    )


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection + distortion certificate
# ---------------------------------------------------------------------------


def rp_sign_matrix(
    dims: int, planes: int, seed: str = "rpsign"
) -> list[list[int]]:
    """Deterministic Rademacher (+-1) sign matrix, one row per
    projection plane: sign(i, j) = parity of md5('{seed}-{j*1000+i}')
    — the Achlioptas 2003 database-friendly JL projection (+-1
    entries instead of Gaussians).  Computed in Python and inlined as
    LITERALS into both the Spark plan and the DuckDB oracle, so the
    projection is bit-identical cross-engine with no shared-hash
    plumbing."""
    import hashlib

    out = []
    for j in range(planes):
        row = []
        for i in range(dims):
            h = hashlib.md5(f"{seed}-{j * 1000 + i}".encode()).hexdigest()
            row.append(1 - 2 * (int(h[:13], 16) % 2))
        out.append(row)
    return out


def rp_distortion_certificate(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    planes: int = 16,
    seed: str = "rpsign",
) -> DataFrame:
    """Johnson–Lindenstrauss distortion certificate: project every
    embedding onto ``planes`` deterministic +-1 vectors and measure,
    for each adjacent-id pair, how well scaled projected distance
    preserves true distance — ||P(a-b)||^2/planes vs ||a-b||^2 (the
    Rademacher projection is E-preserving under exactly this scaling;
    Achlioptas 2003).  This is the certificate behind every
    shrink-then-search tier (sign-block ANN, pivot LSH, matryoshka):
    the measured answer to "how much geometry survives k dims".

    Scale shape: projections are per-row strict left-to-right folds
    over the embedding array (16 zip_with aggregates, JVM codegen, no
    UDF, no shuffle); the only exchange is the even-id/odd-id
    self-join on pair_id.  No driver collect, no pairwise blowup —
    pairs are the adjacent-id sample, linear in rows.

    Output: pair_id, orig_d2, proj_d2k, distortion (= proj/orig,
    rounded 6 dp; pairs with orig_d2 = 0 are dropped — distortion of
    a zero vector is undefined).
    """
    signs = rp_sign_matrix(dims, planes, seed)
    proj_exprs = []
    for j, row in enumerate(signs):
        arr = "array(" + ",".join(f"CAST({v} AS DOUBLE)" for v in row) + ")"
        proj_exprs.append(
            F.expr(
                f"aggregate(zip_with({vec_col}, {arr},"
                f" (x, y) -> CAST(x AS DOUBLE) * y),"
                f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
            ).alias(f"_p{j}")
        )
    p = (
        ensure_parallelism(emb.select(id_col, vec_col))
        .select(F.col(id_col), F.col(vec_col), *proj_exprs)
        .withColumn(
            "_proj", F.array(*[F.col(f"_p{j}") for j in range(planes)])
        )
    )
    a = p.filter(F.col(id_col) % 2 == 0).select(
        F.col(id_col).alias("pair_id"),
        F.col(vec_col).alias("_va"),
        F.col("_proj").alias("_pa"),
    )
    b = p.filter(F.col(id_col) % 2 == 1).select(
        (F.col(id_col) - 1).alias("pair_id"),
        F.col(vec_col).alias("_vb"),
        F.col("_proj").alias("_pb"),
    )
    from fuel_spark.functions import l2sq_expr

    orig = l2sq_expr("_va", "_vb")
    proj = l2sq_expr("_pa", "_pb") / F.lit(float(planes))
    return (
        a.join(b, "pair_id")
        .select(
            "pair_id",
            F.round(orig, 6).alias("orig_d2"),
            F.round(proj, 6).alias("proj_d2k"),
            F.when(orig > 0, F.round(proj / orig, 6)).alias("distortion"),
        )
        .filter(F.col("orig_d2") > 0)
    )


def rbo_suffix_weights(k: int = 5, p: float = 0.9) -> dict[int, float]:
    """Suffix-summed RBO depth weights: weight a both-lists pair whose
    worse rank is m contributes — sum of (1-p)p^(d-1)/d for d=m..k,
    rounded 12 dp.  Shared by the Spark op and the DuckDB oracle so
    both engines multiply the same literals."""
    return {
        m: round(
            sum((1.0 - p) * p ** (d - 1) / d for d in range(m, k + 1)), 12
        )
        for m in range(1, k + 1)
    }


def rbo_certificate(
    exact: DataFrame,
    approx: DataFrame,
    k: int = 5,
    p: float = 0.9,
) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel 2010) between an
    exact and an approximate top-k ranking — the rank-AWARE quality
    certificate the recall certificates can't express: recall@k says
    only whether the right ids appear; RBO weights agreement at depth
    d by (1-p)·p^(d-1)/d, so an ANN tier that finds the right ids in
    the wrong order scores below one that preserves order.

    Closed form used: a pair present in both lists at ranks (re, ra)
    contributes the SUFFIX sum of depth weights from max(re, ra) to k
    (it is inside both depth-d prefixes exactly for d >= max).  The
    suffix sums are Python-float literals rounded to 12 dp, summed as
    DECIMAL so the per-query total is order-independent — identical
    cross-engine.  Truncated (prefix) RBO: no extrapolation term, so
    1.0 means the two rankings agree exactly through depth k.

    Both inputs need (query_id, neighbor_id, rank).  Output:
    query_id, n_common, rbo.
    """
    suffix = rbo_suffix_weights(k, p)
    e = exact.select(
        "query_id", "neighbor_id", F.col("rank").alias("_re")
    )
    a = approx.select(
        "query_id", "neighbor_id", F.col("rank").alias("_ra")
    )
    m = F.greatest(F.col("_re"), F.col("_ra"))
    contrib = None
    for mm in range(1, k + 1):
        case = F.when(m == mm, F.lit(suffix[mm]))
        contrib = case if contrib is None else contrib.when(
            m == mm, F.lit(suffix[mm])
        )
    per = (
        e.join(a, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.round(
                F.sum(contrib.cast("decimal(27,12)")).cast("double"), 6
            ).alias("rbo"),
        )
    )
    qs = exact.select("query_id").distinct()
    return qs.join(per, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_common"), F.lit(0)).cast("bigint")
        .alias("n_common"),
        F.coalesce(F.col("rbo"), F.lit(0.0)).alias("rbo"),
    )


def centroid_shift(
    df: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space drift certificate: per group, the cosine
    between the centroids of two deterministic corpus halves (even
    vs odd id).  The snapshot_* family watches TEXT drift between
    corpus versions; this is its embedding-space twin — a re-embedded
    or re-trained encoder that silently rotates a class's region
    shows up as half-centroid cosine < 1 long before downstream
    metrics move.  With a stable encoder the two halves sample the
    same distribution, so cosine ≈ 1 is the healthy reading.

    Scale shape: posexplode → groupBy(group, half, position)
    exact-decimal component means (the :func:`label_centroids`
    contract — round(6) before the DECIMAL sum, so both engines and
    any partitioning accumulate identical values), then the
    dot/norm reduction runs on the (groups × dims)-sized frame —
    everything after the one corpus-scale explode is
    aggregate-sized.

    Output per group: n_even, n_odd, cosine (round 6),
    l2_shift (round 6, the euclidean distance between half-centroids).
    """
    from fuel_spark.functions import round6_ratio

    exploded = df.select(
        F.col(group_col).alias("g"),
        (F.col(id_col) % 2 == 0).alias("even"),
        F.posexplode(F.col(vec_col)).alias("pos", "v"),
    )
    # exact-rational 6-dp mean (round(sum/n, 6) of a double quotient
    # flips at half-way boundaries between engines)
    per_dim = exploded.groupBy("g", "even", "pos").agg(
        round6_ratio(
            F.sum(F.round(F.col("v").cast("double"), 6)
                  .cast("decimal(27,6)")),
            F.count(F.lit(1)),
        ).alias("m"),
        F.count(F.lit(1)).alias("n"),
    )
    # pivot the two halves side by side on the (groups × dims) frame
    pair = (
        per_dim.groupBy("g", "pos")
        .agg(
            F.max(F.when(F.col("even"), F.col("m"))).alias("a"),
            F.max(F.when(~F.col("even"), F.col("m"))).alias("b"),
            F.max(F.when(F.col("even"), F.col("n"))).alias("n_even"),
            F.max(F.when(~F.col("even"), F.col("n"))).alias("n_odd"),
        )
    )
    # per-dim products in exact decimal arithmetic — (18,6)×(18,6) is
    # an exact 12-dp DECIMAL(37,12), so the reductions are
    # order-independent AND engine-portable (round(double*double, 9)
    # resolves half-way cases differently across engines)
    d6c = lambda c: c.cast("decimal(18,6)")
    diff = (d6c(F.col("a")) - d6c(F.col("b"))).cast("decimal(18,6)")
    red = pair.groupBy("g").agg(
        F.max("n_even").cast("bigint").alias("n_even"),
        F.max("n_odd").cast("bigint").alias("n_odd"),
        F.sum(d6c(F.col("a")) * d6c(F.col("b")))
        .cast("double").alias("_dot"),
        F.sum(d6c(F.col("a")) * d6c(F.col("a")))
        .cast("double").alias("_na"),
        F.sum(d6c(F.col("b")) * d6c(F.col("b")))
        .cast("double").alias("_nb"),
        F.sum(diff * diff).cast("double").alias("_l2"),
    )
    return red.select(
        F.col("g").alias(group_col),
        "n_even",
        "n_odd",
        F.round(
            F.col("_dot") / F.sqrt(F.col("_na") * F.col("_nb")), 6
        ).alias("cosine"),
        F.round(F.sqrt(F.col("_l2")), 6).alias("l2_shift"),
    )


def kcenter_coreset(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 6,
) -> DataFrame:
    """Deterministic k-center greedy coreset (Gonzalez 1985 farthest-
    point traversal — the data-PRUNING selector: the k points that
    2-approximate the minimal covering radius, i.e. the most
    geometrically diverse exemplars; Sener & Savarese 2018 use
    exactly this loop for coreset-based active learning).  The greedy
    loop is UNROLLED as k pure-DataFrame steps (the
    ``mmr_diversify_fixed`` pattern), so the whole selection is
    SQL-expressible and oracle-checked.

    Determinism contract: the seed is the MINIMUM id (no RNG); every
    distance is the strict left-to-right ``l2sq`` fold rounded to
    6 dp before any comparison; the argmax breaks ties on minimum id
    via min(struct(-dist, id)) — map-side combinable, no window; and
    already-picked ids are anti-joined out before each argmax (a
    duplicate point at distance 0 could otherwise be re-picked on the
    all-zeros tie).  The pick sequence is therefore bit-identical
    across engines and partitionings.

    Scale shape: k linear passes — each step broadcasts ONE new
    center row against the corpus and min-updates the running
    distance map-side; the only exchanges are the k 1-row argmax
    reduces (partial-aggregated).  The running-distance frame is
    materialized per step: it is referenced by both the next update
    and the next argmax.  Radius column = distance to the
    previously-selected set at pick time — non-increasing by
    construction (tested), and radius_k is the standard
    2-approximation coverage certificate.

    Output: rank (0-based pick order), vec_id, radius (NULL for the
    seed).
    """
    from fuel_spark.functions import l2sq_expr

    base = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("_v"))
    seed = base.agg(F.min("vid").alias("vid"))
    seed_vec = base.join(F.broadcast(seed), "vid").select(
        F.col("_v").alias("_cv")
    )
    state = materialize(
        base.crossJoin(F.broadcast(seed_vec)).select(
            "vid", "_v", F.round(l2sq_expr("_v", "_cv"), 6).alias("dist")
        )
    )
    selected = seed.select(
        F.lit(0).cast("bigint").alias("rank"),
        "vid",
        F.lit(None).cast("double").alias("radius"),
    )
    for step in range(1, int(k)):
        rem = state.join(
            F.broadcast(selected.select("vid")), "vid", "left_anti"
        )
        pick = rem.agg(
            F.min(
                F.struct((-F.col("dist")).alias("_neg"), F.col("vid"))
            ).alias("_m")
        ).select(
            F.lit(step).cast("bigint").alias("rank"),
            F.col("_m.vid").alias("vid"),
            (-F.col("_m._neg")).alias("radius"),
        )
        selected = materialize(selected.unionByName(pick))
        if step < int(k) - 1:
            new_vec = base.join(
                F.broadcast(pick.select("vid")), "vid"
            ).select(F.col("_v").alias("_cv"))
            state = materialize(
                state.crossJoin(F.broadcast(new_vec)).select(
                    "vid",
                    "_v",
                    F.least(
                        F.col("dist"), F.round(l2sq_expr("_v", "_cv"), 6)
                    ).alias("dist"),
                )
            )
    return selected.select("rank", F.col("vid").alias(id_col), "radius")


# ---------------------------------------------------------------------------
# ANN index lifecycle (round 8) — build / merge / compact / certify, the
# vector-index mirror of the MinHash band-index lifecycle in ops/dedup.py
# (with_minhash_bands → merge_into_index → compact_index).  Reference
# parity anchor: fuel's datasets are static snapshots (fuel/datasets/
# base.py); a production vector store needs the maintenance passes the
# reference never had.  All paths are plain DataFrame algebra over the
# deterministic pivot-plane family, so every certificate is
# oracle-checkable end-to-end.
# ---------------------------------------------------------------------------


def pivot_lsh_index(
    df: DataFrame,
    planes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucket every vector of ``df`` under a FROZEN pivot-plane
    family: bit p of the bucket is the sign of the dot product with
    plane p (the :func:`pivot_lsh_ann` hash, dots folded
    left-to-right and round(6)'d, so buckets are bit-identical
    cross-engine).  Output (id, bucket) is the persisted index —
    vector payloads stay in the vector table and joins come back by
    id, so index rows are 16 bytes regardless of dimension.

    Scale shape: one broadcast nested-loop pass (N × n_planes rows)
    reduced by a map-side-combinable conditional SUM — no fact-wide
    window, one shuffle onto the id.
    """
    from fuel_spark.functions import dot_expr

    return (
        df.select(F.col(id_col), F.col(vec_col).alias("_v"))
        .crossJoin(planes)
        .withColumn("_dot", F.round(dot_expr("_v", "pvec"), 6))
        .groupBy(id_col)
        .agg(
            F.sum(
                F.when(
                    F.col("_dot") > 0,
                    F.expr("shiftleft(1, p)").cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("bucket")
        )
    )


def ann_merge_into_index(
    index: DataFrame,
    new_vectors: DataFrame,
    planes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_id_col: str = "vec_id",
) -> DataFrame:
    """Incremental vector-index maintenance — the ANN twin of
    ``ops.dedup.merge_into_index`` (dedup.py): new vectors are
    bucketed under the SAME frozen plane family and their (id,
    bucket) rows appended, so the next search probes both the frozen
    corpus and everything accepted since, with NO rebuild.

    Pure union of narrow projections — no shuffle beyond the new
    batch's own bucketing; in production append the new rows to the
    index's parquet partition (write_dataset mode='append').  The id
    is cast to the index's id dtype so unions stay schema-stable
    across ingest sources.

    What this does NOT do: re-derive the planes.  A family re-derived
    from the grown corpus re-hashes EVERY existing bucket (full
    rebuild); :func:`ann_index_merge_certificate` measures exactly
    that drift, and :func:`ann_recall_after_merge` prices the recall
    cost of staying stale.
    """
    new_rows = pivot_lsh_index(new_vectors, planes, id_col, vec_col)
    id_type = dict(index.dtypes)[index_id_col]
    return index.unionByName(
        new_rows.select(
            F.col(id_col).cast(id_type).alias(index_id_col), "bucket"
        )
    )


def ann_compact_index(
    index: DataFrame,
    live_ids: DataFrame | None = None,
    id_col: str = "vec_id",
    max_bucket: int | None = None,
    index_id_col: str = "vec_id",
    rel_max_bucket: float | None = None,
) -> DataFrame:
    """Periodic compaction of an append-only vector index — the ANN
    twin of ``ops.dedup.compact_index``, dropping the same three
    decays: (1) REPLAYED rows from re-merged batches / at-least-once
    ingest (dropDuplicates on the full row); (2) TOMBSTONES — vectors
    later deleted from the corpus (takedowns, re-embeds that
    superseded an id) whose index rows would surface dangling
    neighbor ids (left_semi against ``live_ids``); (3) HOT BUCKETS —
    degenerate hash cells larger than ``max_bucket`` whose members
    dominate every probe's candidate list for near-zero selectivity
    (the multi-probe search scans them on most queries: pure rerank
    tax, see :func:`ann_index_profile`'s expected-candidates metric).

    Shuffle story mirrors the dedup twin: one dropDuplicates shuffle
    on the row, one bucket-sizing agg joined back (bucket-count-sized
    frame), one optional left_semi on the id — linear in index rows,
    nothing pairwise.

    Re-hashing note: changing the plane family itself (n_planes, or
    re-deriving pivots from the grown corpus) is NOT a compaction —
    that is a rebuild via :func:`pivot_lsh_index` over the live
    corpus.

    Cap semantics — ``rel_max_bucket`` is the PRODUCTION DEFAULT
    (r10, VERDICT #6): ``max_bucket`` is the ABSOLUTE cap (rows); it
    cliffs once the corpus outgrows cap·2^n_planes (every cell over
    the cap → empty index — by design, the rebuild signal; kept as
    the documented edge-case behavior, pinned by the
    ``ann_index_compaction`` registry query).  ``rel_max_bucket`` is
    the SCALE-RELATIVE cap (the dedup convention, pinned by
    ``ann_compact_relative`` — the driver-window compaction key,
    non-empty at every SF: 414/409/1646 rows at sf0.001/0.01/0.1):
    keep a bucket iff its size ≤ ceil(α · mean bucket
    size), so a grown corpus degrades to dropping only genuinely hot
    cells instead of emptying the index.  The comparison is pure
    integer arithmetic — sz ≤ ceil(α·n/b) ⟺ (sz−1)·q·b < p·n with
    α = p/q at 3-dp resolution — so it is exact on both engines at
    every scale.  When both caps are given a bucket must pass BOTH.
    """
    cols = index.columns
    if index_id_col not in cols:
        raise ValueError(
            f"ann_compact_index: index has no column {index_id_col!r} "
            f"(columns: {cols}); pass index_id_col explicitly"
        )
    out = index.dropDuplicates(cols)
    if live_ids is not None:
        id_type = dict(index.dtypes)[index_id_col]
        keep = live_ids.select(
            F.col(id_col).cast(id_type).alias(index_id_col)
        ).distinct()
        out = out.join(keep, index_id_col, "left_semi")
    if max_bucket is not None or rel_max_bucket is not None:
        sizes = out.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("_bucket_n")
        )
        out = out.join(sizes, "bucket")
        if max_bucket is not None:
            out = out.where(F.col("_bucket_n") <= int(max_bucket))
        if rel_max_bucket is not None:
            # α at 3-dp resolution; keep iff (sz-1)·q·b < p·n — the
            # exact-integer form of sz ≤ ceil(α · n/b)
            p = int(round(float(rel_max_bucket) * 1000))
            totals = sizes.agg(
                F.sum("_bucket_n").cast("long").alias("_n_rows"),
                F.count(F.lit(1)).cast("long").alias("_n_buckets"),
            )
            out = out.crossJoin(F.broadcast(totals)).where(
                (F.col("_bucket_n") - 1) * F.lit(1000)
                * F.col("_n_buckets")
                < F.lit(p) * F.col("_n_rows")
            ).drop("_n_rows", "_n_buckets")
        out = out.drop("_bucket_n")
    return out


def ann_index_profile(
    index: DataFrame,
    max_bucket: int | None = None,
) -> DataFrame:
    """Vector-index health report — the dashboard that tells an index
    owner when to run :func:`ann_compact_index` (the ANN twin of
    ``ops.dedup.index_bucket_profile``): one row with total rows,
    bucket count, largest/mean bucket, buckets over the cap, and
    ``expected_candidates`` — the size-biased mean bucket size
    Σsz²/N, i.e. how many candidates a uniformly-random vector's OWN
    bucket hands the exact rerank.  That last number is the search's
    per-probe cost driver: a skewed index can keep a healthy mean
    while expected_candidates (what queries actually feel) explodes.

    One bucket-count shuffle then a single-row rollup — both
    map-side combinable, no window.
    """
    sizes = index.groupBy("bucket").agg(F.count(F.lit(1)).alias("_sz"))
    cap = int(max_bucket) if max_bucket is not None else None
    return sizes.agg(
        F.sum("_sz").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("_sz").cast("bigint").alias("max_bucket_sz"),
        F.round(
            F.sum("_sz").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("mean_bucket"),
        (
            F.sum(F.when(F.col("_sz") > cap, 1).otherwise(0))
            if cap is not None
            else F.lit(0)
        ).cast("bigint").alias("n_over_cap"),
        F.round(
            F.sum(F.col("_sz").cast("double") * F.col("_sz").cast("double"))
            / F.sum("_sz").cast("double"),
            6,
        ).alias("expected_candidates"),
    )


def ann_index_merge_certificate(
    merged_index: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    index_id_col: str = "vec_id",
    _fresh_index: DataFrame | None = None,
) -> DataFrame:
    """Merged-vs-rebuilt drift certificate: rebuild the index FRESH
    over the full corpus (planes re-derived, the thing
    :func:`ann_merge_into_index` deliberately does not do) and count
    how many vectors the stale family files in a different bucket.
    One row: n_index, n_rebuilt, n_same_bucket, n_moved, moved_frac.
    moved_frac is the re-index pressure gauge — 0 while ingest ids
    stay above the pivot ids (the family is untouched), jumping the
    moment a batch inserts below them; read it together with
    :func:`ann_recall_after_merge`, which prices the same staleness
    in recall terms.

    Scale shape: one fresh bucketing pass (broadcast nested loop +
    conditional-sum agg) and one id-keyed equi-join of two
    16-byte-row frames; the certificate row is a single rollup.
    """
    # _fresh_index: a sweep computing several certificates against
    # the SAME corpus passes the rebuilt index once (lazily
    # checkpointed) instead of re-bucketing per split
    fresh = (
        _fresh_index
        if _fresh_index is not None
        else pivot_lsh_index(
            corpus, pivot_lsh_planes(corpus, id_col, vec_col, n_planes),
            id_col, vec_col,
        )
    ).select(F.col(id_col).alias("_fid"), F.col("bucket").alias("_fb"))
    joined = merged_index.join(
        fresh, merged_index[index_id_col] == fresh["_fid"], "full_outer"
    )
    return joined.agg(
        F.count(merged_index[index_id_col]).cast("bigint").alias("n_index"),
        F.count(F.col("_fid")).cast("bigint").alias("n_rebuilt"),
        F.sum(
            F.when(F.col("bucket") == F.col("_fb"), 1).otherwise(0)
        ).cast("bigint").alias("n_same_bucket"),
        F.sum(
            F.when(
                F.col("bucket").isNotNull()
                & F.col("_fb").isNotNull()
                & (F.col("bucket") != F.col("_fb")),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_moved"),
    ).withColumn(
        "moved_frac",
        F.round(
            F.col("n_moved").cast("double")
            / F.greatest(F.col("n_index"), F.lit(1)).cast("double"),
            6,
        ),
    )


def ann_incremental_summary(
    corpus_old: DataFrame,
    new_batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    sim_threshold: float = 0.98,
    max_bucket: int | None = None,
) -> DataFrame:
    """The ANN ingest lifecycle as ONE audited composite — the
    vector-space twin of ``ops.dedup.incremental_dedup_summary``:
    SCREEN the new batch against the frozen-plane index (in-bucket
    exact cosine ≥ ``sim_threshold`` ⇒ near-duplicate of an already-
    indexed vector, dropped), MERGE the survivors' rows in, COMPACT
    (replay dedupe + hot-bucket cap), and emit one row per stage so
    an ingest run leaves an audit trail instead of four ad-hoc
    counts.  Output: stage, n_rows — stages index_before, new_batch,
    screened_dup, accepted, index_merged, index_compacted.

    Screen shape: the new side buckets once and probes radius-1
    (flip each bit) like the search path, the corpus side is joined
    by bucket then by id back to its vectors — candidate volume is
    bounded by bucket sizes exactly as in :func:`pivot_lsh_ann`,
    never pairwise.  The merged index is materialized once: merge and
    compact both read it.
    """
    planes = pivot_lsh_planes(corpus_old, id_col, vec_col, n_planes)
    index_before = pivot_lsh_index(corpus_old, planes, id_col, vec_col)
    # consumed 3x: the screen join, the merge and the certificate
    index_before = materialize(index_before)

    nb = pivot_lsh_index(new_batch, planes, id_col, vec_col)
    if n_planes > 0:
        flips = ", ".join(f"bucket ^ {1 << p}L" for p in range(n_planes))
        nb = nb.withColumn(
            "bucket", F.expr(f"explode(array(bucket, {flips}))")
        )
    cand = (
        nb.withColumnRenamed(id_col, "_nid")
        .join(index_before, "bucket")
        .join(
            new_batch.select(
                F.col(id_col).alias("_nid"), F.col(vec_col).alias("_nv")
            ),
            "_nid",
        )
        .join(
            corpus_old.select(
                F.col(id_col), F.col(vec_col).alias("_cv")
            ),
            id_col,
        )
    )
    dup_ids = (
        cand.withColumn("_cos", F.round(cosine_expr("_nv", "_cv"), 6))
        .where(F.col("_cos") >= float(sim_threshold))
        .select(F.col("_nid").alias(id_col))
        .distinct()
    )
    accepted = new_batch.join(dup_ids, id_col, "left_anti")
    merged = materialize(
        ann_merge_into_index(
            index_before, accepted, planes, id_col, vec_col, id_col
        )
    )
    compacted = ann_compact_index(merged, max_bucket=max_bucket,
                                  index_id_col=id_col)

    def one(stage: str, frame: DataFrame) -> DataFrame:
        return frame.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows")
        ).select(F.lit(stage).alias("stage"), "n_rows")

    stages = [
        one("index_before", index_before),
        one("new_batch", new_batch),
        one("screened_dup", dup_ids),
        one("accepted", accepted),
        one("index_merged", merged),
        one("index_compacted", compacted),
    ]
    out = stages[0]
    for s in stages[1:]:
        out = out.unionByName(s)
    return out


def snapshot_drift_certificate(
    a: DataFrame,
    b: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    cos_floor: float = 0.999,
) -> DataFrame:
    """Cross-SNAPSHOT embedding-drift certificate — the two-frame
    generalization of :func:`centroid_shift` (which splits ONE corpus
    into even/odd-id halves): given two snapshot frames (yesterday's
    embeddings vs today's re-encode, or pre/post-encoder-upgrade),
    per group it reports both counts, the cosine between the two
    snapshot centroids, their euclidean distance, each side's mean
    vector norm, and a ``drifted`` verdict (centroid cosine under
    ``cos_floor``) — the one-table answer to "did the re-embed move
    any class's region".  Pair it with
    :func:`fuel_spark.sources.sink.snapshot_diff` (which ids changed)
    and :func:`dataset_fingerprint` (whether anything changed at
    all).

    Numeric discipline is the :func:`centroid_shift` contract
    hardened one step further: components round(6) into
    DECIMAL(27,6) before an exact-rational :func:`round6_ratio` mean
    (a plain round(sum/n, 6) double quotient flips at half-way
    boundaries between engines), and the per-dim centroid products
    are computed IN exact decimal arithmetic — the round-6 means cast
    to DECIMAL(18,6) and multiplied (an exact 12-dp DECIMAL(37,12)
    product) rather than rounding a double product, because
    round(double*double, 9) resolves half-way cases differently
    across engines (Spark BigDecimal HALF_UP vs DuckDB) — so every
    aggregate is order/partitioning-independent and the whole
    certificate runs under the exact-hash oracle gate.  Scale shape:
    one posexplode per side feeding a (group, side, dim)-keyed
    map-side-combinable agg; everything after is aggregate-sized.
    """
    from fuel_spark.functions import dot_expr, round6_ratio

    # exact-rational 6-dp mean: round(double_quotient, 6) flips at
    # half-way boundaries between engines (the round6_ratio contract)
    d6m = lambda c: round6_ratio(
        F.sum(F.round(c.cast("double"), 6).cast("decimal(27,6)")),
        F.count(F.lit(1)),
    )
    sides = []
    for tag, df in (("a", a), ("b", b)):
        sides.append(
            df.select(
                F.col(group_col).alias("g"),
                F.lit(tag).alias("side"),
                F.posexplode(F.col(vec_col)).alias("pos", "v"),
            )
        )
    exploded = sides[0].unionByName(sides[1])
    per_dim = exploded.groupBy("g", "side", "pos").agg(
        d6m(F.col("v")).alias("m"), F.count(F.lit(1)).alias("n")
    )
    pair = per_dim.groupBy("g", "pos").agg(
        F.max(F.when(F.col("side") == "a", F.col("m"))).alias("ca"),
        F.max(F.when(F.col("side") == "b", F.col("m"))).alias("cb"),
        F.max(F.when(F.col("side") == "a", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("side") == "b", F.col("n"))).alias("n_b"),
    )
    # exact decimal products: (18,6)×(18,6) → DECIMAL(37,12), no
    # precision loss in either engine, no double-rounding half-way
    d6c = lambda c: c.cast("decimal(18,6)")
    diff = (d6c(F.col("ca")) - d6c(F.col("cb"))).cast("decimal(18,6)")
    red = pair.groupBy("g").agg(
        # a group present in only one snapshot reads 0 on the other
        # side (and drifted=true below), not NULL
        F.coalesce(F.max("n_a"), F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce(F.max("n_b"), F.lit(0)).cast("bigint").alias("n_b"),
        F.sum(d6c(F.col("ca")) * d6c(F.col("cb")))
        .cast("double").alias("_dot"),
        F.sum(d6c(F.col("ca")) * d6c(F.col("ca")))
        .cast("double").alias("_na"),
        F.sum(d6c(F.col("cb")) * d6c(F.col("cb")))
        .cast("double").alias("_nb"),
        F.sum(diff * diff).cast("double").alias("_l2"),
    )
    # per-side mean row norm: per-row norm rounds(6) first, then the
    # exact-decimal mean — same order-independence story
    norms = (
        a.select(F.col(group_col).alias("g"), F.lit("a").alias("side"),
                 F.col(vec_col).alias("_v"))
        .unionByName(
            b.select(F.col(group_col).alias("g"), F.lit("b").alias("side"),
                     F.col(vec_col).alias("_v"))
        )
        .withColumn("_norm", F.round(F.sqrt(dot_expr("_v", "_v")), 6))
        .groupBy("g")
        .agg(
            F.round(
                F.sum(F.when(F.col("side") == "a",
                             F.col("_norm").cast("decimal(27,6)")))
                .cast("double")
                / F.sum(F.when(F.col("side") == "a", 1).otherwise(0)), 6
            ).alias("norm_a"),
            F.round(
                F.sum(F.when(F.col("side") == "b",
                             F.col("_norm").cast("decimal(27,6)")))
                .cast("double")
                / F.sum(F.when(F.col("side") == "b", 1).otherwise(0)), 6
            ).alias("norm_b"),
        )
    )
    return (
        red.join(norms, "g")
        .select(
            F.col("g").alias(group_col),
            "n_a",
            "n_b",
            F.round(
                F.col("_dot") / F.sqrt(F.col("_na") * F.col("_nb")), 6
            ).alias("cosine"),
            F.round(F.sqrt(F.col("_l2")), 6).alias("l2_shift"),
            "norm_a",
            "norm_b",
        )
        .withColumn(
            # NULL cosine means the group exists in one snapshot only
            # — definitionally drifted
            "drifted",
            F.coalesce(
                F.col("cosine") < F.lit(float(cos_floor)), F.lit(True)
            ),
        )
    )


def ann_reindex_pressure_sweep(
    corpus: DataFrame,
    splits: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
) -> DataFrame:
    """The when-to-REBUILD curve: for each (label, ingest_predicate)
    in ``splits``, treat the matching rows as the batch that arrived
    AFTER the index froze its plane family on the rest, and emit the
    :func:`ann_index_merge_certificate` drift row labeled by split —
    one table showing how re-index pressure (moved_frac) grows with
    ingest share.  The sweep answers the operational question the
    single certificate can't: at WHAT ingest fraction does staleness
    cross the rebuild threshold — the knob-sweep pattern
    (funnel_threshold_sweep / split_fraction_sweep) applied to index
    maintenance.

    Scale shape: per split, one frozen-family bucketing of the corpus
    plus one fresh one and an id-keyed join of two 16 B-row frames —
    the certificate's own shape, ×len(splits); splits is a
    user-sized literal list, never data-derived.

    Output per split: split, n_index, n_rebuilt, n_same_bucket,
    n_moved, moved_frac.
    """
    # the fresh rebuild is split-independent: consumed once per split
    fresh = materialize(
        pivot_lsh_index(
            corpus, pivot_lsh_planes(corpus, id_col, vec_col, n_planes),
            id_col, vec_col,
        )
    )
    out = None
    for label, pred in splits:
        old = corpus.where(~pred)
        planes = pivot_lsh_planes(old, id_col, vec_col, n_planes)
        merged = ann_merge_into_index(
            pivot_lsh_index(old, planes, id_col, vec_col),
            corpus.where(pred), planes, id_col, vec_col, id_col,
        )
        row = ann_index_merge_certificate(
            merged, corpus, id_col, vec_col, n_planes, id_col,
            _fresh_index=fresh,
        ).select(F.lit(str(label)).alias("split"), "*")
        out = row if out is None else out.unionByName(row)
    return out


def ann_planes_sweep(
    corpus: DataFrame,
    plane_counts: tuple = (4, 6, 8),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """The REBUILD-sizing table: :func:`ann_index_profile` re-run at
    several plane counts in one labeled output — how many hash planes
    does the grown corpus need before bucket occupancy (and the
    size-biased expected_candidates the rerank actually pays) drops
    back under budget.  This is the planner the compaction contract
    points at: a fixed cap over a fixed 2^n_planes grid eventually
    caps out EVERY bucket, and the remedy is more planes (a rebuild)
    — this query prices the candidates.  Doubling planes halves
    expected bucket occupancy per bit; the sweep shows the measured
    curve rather than the idealized one (real corpora bucket
    unevenly, which is exactly what expected_candidates captures).

    Scale shape: one frozen-family bucketing + one bucket census per
    plane count — linear passes over the corpus, ×len(plane_counts);
    the output is len(plane_counts) rows.

    Output per setting: n_planes, n_rows, n_buckets, max_bucket_sz,
    mean_bucket, n_over_cap, expected_candidates.
    """
    out = None
    for p in plane_counts:
        prof = ann_index_profile(
            pivot_lsh_index(
                corpus, pivot_lsh_planes(corpus, id_col, vec_col, int(p)),
                id_col, vec_col,
            ),
            max_bucket=max_bucket,
        ).select(F.lit(int(p)).cast("bigint").alias("n_planes"), "*")
        out = prof if out is None else out.unionByName(prof)
    return out
