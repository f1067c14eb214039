"""MLlib integration: vector interop + IVF-style ANN.

fuel feeds numpy minibatches to a training loop; the Spark-native
counterpart feeds MLlib.  This module bridges the engine's
``array<float>`` embedding columns to ``pyspark.ml`` vectors and uses
an MLlib KMeans model as the coarse quantizer for IVF approximate
nearest-neighbor search — the scale path beyond brute force
(ops/similarity.py) and hyperplane LSH.

IVF at 100 TB: centroids are a tiny broadcast model; cluster
assignment is one narrow ML transform; the search join touches only
``nprobe`` of ``k_clusters`` inverted lists (~nprobe/k of the corpus).
"""

from __future__ import annotations

from pyspark.ml.clustering import KMeans
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import broadcast

from fuel_spark.functions import cosine_expr, materialize
from fuel_spark.ops.similarity import _exact_topk, _top_k


def to_ml_vector(df: DataFrame, array_col: str, out_col: str = "features") -> DataFrame:
    """array<float|double> → MLlib VectorUDT (for any pyspark.ml stage)."""
    return df.withColumn(out_col, array_to_vector(F.col(array_col)))


def from_ml_vector(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    """VectorUDT → array<double> (back to engine-native columns)."""
    return df.withColumn(out_col, vector_to_array(F.col(vec_col)))


def fit_ivf_index(
    corpus: DataFrame,
    vec_col: str = "embedding",
    k_clusters: int = 16,
    seed: int = 42,
    fit_fraction: float | None = None,
):
    """Train the IVF coarse quantizer (KMeans).

    ``fit_fraction`` samples the corpus before the (iterative,
    multi-pass) KMeans fit — centroid quality needs thousands of
    points, not the full corpus, so at 100 TB pass a fraction that
    yields ~10^5-10^6 rows and the fit cost stays constant while the
    index still covers everything (assignment is a narrow transform
    over the full corpus either way).
    """
    feats = corpus.select(vec_col)
    if fit_fraction is not None and fit_fraction < 1.0:
        feats = feats.sample(fraction=fit_fraction, seed=seed)
    feats = to_ml_vector(feats, vec_col)
    return KMeans(k=k_clusters, seed=seed, featuresCol="features").fit(feats)


def save_ivf_index(model, path: str) -> None:
    """Persist the coarse quantizer so the (expensive) fit is paid
    once and reused across queries/sessions."""
    model.write().overwrite().save(path)


def load_ivf_index(path: str):
    """Reload a persisted coarse quantizer (KMeansModel)."""
    from pyspark.ml.clustering import KMeansModel

    return KMeansModel.load(path)


def assign_clusters(
    model, df: DataFrame, vec_col: str = "embedding", out_col: str = "ivf_cluster"
) -> DataFrame:
    """Attach the inverted-list id to each row (narrow ML transform)."""
    feats = to_ml_vector(df, vec_col)
    assigned = model.transform(feats).withColumnRenamed("prediction", out_col)
    return assigned.drop("features")


def ivf_ann(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    k_clusters: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    model=None,
    fit_fraction: float | None = None,
) -> DataFrame:
    """IVF approximate top-k cosine neighbors.

    Queries probe their ``nprobe`` nearest centroids; candidates are
    corpus rows in those inverted lists; exact cosine ranks within
    candidates.  Output: query_id, neighbor_id, cosine, rank.

    Pass ``model`` (from :func:`fit_ivf_index` / :func:`load_ivf_index`)
    to reuse a persisted index; otherwise one is fit here, optionally
    on a ``fit_fraction`` sample.
    """
    if model is None:
        model = fit_ivf_index(corpus, vec_col, k_clusters, seed, fit_fraction)
    centers = model.clusterCenters()

    c = assign_clusters(model, corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.col("ivf_cluster").alias("bucket"),
    )

    # per-query nprobe nearest centroids, via a tiny broadcast
    # centroid table (k_clusters rows) — no model call per probe
    spark = corpus.sparkSession
    centers_df = broadcast(
        spark.createDataFrame(
            [(i, [float(x) for x in cvec]) for i, cvec in enumerate(centers)],
            "bucket int, center array<double>",
        )
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    qc = q.crossJoin(centers_df).withColumn(
        "dist2",
        F.expr(
            "aggregate(zip_with(qvec, center, (a, b) -> (CAST(a AS DOUBLE) - b)"
            " * (CAST(a AS DOUBLE) - b)), CAST(0.0 AS DOUBLE), (s, v) -> s + v)"
        ),
    )
    probes = _top_k(qc, nprobe, F.col("dist2").asc(), tie="bucket").select(
        "query_id", "qvec", "bucket"
    )
    return _exact_topk(broadcast(probes).join(c, "bucket"), k)


def fit_pca(
    corpus: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    fit_fraction: float | None = None,
    seed: int = 42,
):
    """Fit a PCA basis over an embedding column (MLlib PCA — the
    covariance/SVD pass is distributed; the returned model is a tiny
    dim x k matrix).

    Like :func:`fit_ivf_index`, ``fit_fraction`` bounds the fit cost
    at the 100 TB tier: principal directions stabilize with ~10^5
    rows, and projection (the full-corpus pass) is a narrow transform
    either way.
    """
    from pyspark.ml.feature import PCA

    feats = corpus.select(vec_col)
    if fit_fraction is not None and fit_fraction < 1.0:
        feats = feats.sample(fraction=fit_fraction, seed=seed)
    return PCA(k=k, inputCol="features", outputCol="_pca").fit(
        to_ml_vector(feats, vec_col)
    )


def pca_project(
    model, df: DataFrame, vec_col: str = "embedding", out_col: str = "pca"
) -> DataFrame:
    """Project embeddings onto a fitted PCA basis (narrow transform,
    no shuffle) and return engine-native array<double> coordinates."""
    feats = to_ml_vector(df, vec_col)
    return (
        model.transform(feats)
        .withColumn(out_col, vector_to_array(F.col("_pca")))
        .drop("features", "_pca")
    )


def pca_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    model=None,
    fit_fraction: float | None = None,
) -> DataFrame:
    """Dimensionality reduction for the embedding pipeline: fit (or
    reuse) a PCA basis and emit per-row top-``k`` coordinates — the
    standard pre-step before clustering/ANN when the raw dimension is
    wasteful (a 4-16x narrower shuffle for every downstream join).

    Output: id, pca (array<double>, length k), pca_norm (L2 of the
    reduced vector — cheap quality signal: how much of the row
    survives the cut)."""
    if model is None:
        model = fit_pca(df, vec_col, k, fit_fraction)
    out = pca_project(model, df, vec_col)
    return out.select(
        id_col,
        "pca",
        F.round(
            F.sqrt(F.aggregate("pca", F.lit(0.0), lambda a, x: a + x * x)), 6
        ).alias("pca_norm"),
    )


def domain_clusters(
    docs: DataFrame,
    embeddings: DataFrame,
    doc_id: str = "doc_id",
    vec_id: str = "vec_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    k_clusters: int = 8,
    top_terms: int = 5,
    seed: int = 42,
    fit_fraction: float | None = None,
) -> DataFrame:
    """Corpus domain discovery: KMeans over the embedding column
    (sampled fit, broadcast centroids, narrow assignment — the IVF
    machinery reused as a cartographer), then each cluster labeled by
    its most-frequent distinctive terms — the standard map step of
    data-mixture curation (cluster the corpus, inspect/weight the
    clusters).

    Term ranking is cluster term count with corpus-wide stopword-ish
    mass removed by document frequency (terms in > half the docs are
    skipped), one explode + two map-side-combinable aggs; deterministic
    tie-break on the term string.

    Output: one row per cluster — cluster, n_docs, top_terms
    (comma-joined, rank order).
    """
    from fuel_spark.functions import words

    model = fit_ivf_index(embeddings, vec_col, k_clusters, seed, fit_fraction)
    assigned = assign_clusters(model, embeddings, vec_col).select(
        F.col(vec_id).alias("_id"), F.col("ivf_cluster").alias("cluster")
    )
    d = docs.select(F.col(doc_id).alias("_id"), F.col(text_col))
    joined = d.join(assigned, "_id")
    toks = joined.select(
        "cluster", "_id", F.explode(words(F.col(text_col))).alias("_w")
    ).where(F.col("_w") != "")
    # corpus size rides along as a broadcast 1-row relation (no driver
    # count pass — the tf_idf_top_terms convention)
    total = d.agg(F.count(F.lit(1)).alias("_n"))
    df_counts = (
        toks.select("_id", "_w")
        .distinct()
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_df"))
        .crossJoin(F.broadcast(total))
        .where(F.col("_df") <= F.col("_n") / 2)
        .select("_w", "_df")
    )
    tf = toks.groupBy("cluster", "_w").agg(F.count(F.lit(1)).alias("_tf"))
    ranked = (
        tf.join(F.broadcast(df_counts), "_w")
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("cluster").orderBy(
                    F.col("_tf").desc(), F.col("_w")
                )
            ),
        )
        .where(F.col("_rk") <= top_terms)
    )
    sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_docs"))
    terms = ranked.groupBy("cluster").agg(
        F.concat_ws(",", F.array_sort(F.collect_list(F.struct("_rk", "_w"))._w)).alias("top_terms")
    )
    return sizes.join(terms, "cluster", "left").select(
        "cluster", "n_docs", F.coalesce("top_terms", F.lit("")).alias("top_terms")
    )


def fit_quality_model(
    docs: DataFrame,
    text_col: str,
    label_col: str,
    seed: int = 7,
    fit_fraction: float | None = None,
):
    """Train the GPT-3-style quality classifier for real (Brown et al.
    2020, App. A: a linear model taught to separate a trusted corpus
    from raw crawl, then used to filter): logistic regression over the
    engine's own zero-shuffle quality features (word count, mean word
    length, alpha ratio, stopword ratio).

    The fixed-weight ``ops.text.quality_classifier`` is the portable,
    oracle-checked stand-in; this is the trained tier.  Like the
    IVF/PCA fits, ``fit_fraction`` bounds the (iterative) fit cost at
    100 TB while scoring stays a narrow transform over everything.
    """
    from pyspark.ml.classification import LogisticRegression

    feats = _quality_features(docs, text_col).withColumn(
        "label", F.col(label_col).cast("double")
    )
    if fit_fraction is not None and fit_fraction < 1.0:
        feats = feats.sample(fraction=fit_fraction, seed=seed)
    lr = LogisticRegression(
        featuresCol="features", labelCol="label", maxIter=50, regParam=0.01
    )
    return lr.fit(feats)


def _quality_features(docs: DataFrame, text_col: str) -> DataFrame:
    from fuel_spark.ops.text import quality_score

    scored = quality_score(docs, text_col)
    arr = F.array(
        F.least(F.col("n_words").cast("double"), F.lit(300.0)),
        F.col("mean_word_len"),
        F.col("alpha_ratio"),
        F.col("stopword_ratio"),
    )
    return scored.withColumn("features", array_to_vector(arr))


def score_quality_model(
    model, docs: DataFrame, text_col: str, out_col: str = "quality_prob"
) -> DataFrame:
    """Attach the trained keep-probability to each document (narrow
    ML transform; pair with the md5-uniform Pareto-tail rule from
    ``ops.text.quality_classifier`` for the stochastic keep)."""
    feats = _quality_features(docs, text_col)
    scored = model.transform(feats)
    prob = vector_to_array(F.col("probability"))[1]
    keep_cols = [c for c in docs.columns]
    return scored.select(*keep_cols, F.round(prob, 6).alias(out_col))


def kmeans_fixed(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 2,
) -> DataFrame:
    """Spherical k-means (Dhillon & Modha 2001) with a DETERMINISTIC
    pivot init and a fixed Lloyd-iteration count, oracle-checkable
    end to end — the clustering analogue of the pivot-IVF tier: the
    MLlib ``KMeans`` path (:func:`fit_ivf_index`) stays the quality
    fit, this pins the Lloyd MECHANICS (argmax-cosine assignment,
    per-dimension mean update) under the exact-hash gate.

    Determinism contract: centroids initialize to the ``k`` lowest-id
    vectors (cluster label = that pivot's id); assignment is
    argmax of round-6 cosine with ties to the lowest cluster id
    (``min(struct(-cos, cluster))`` — map-side partial, no fact-wide
    window); centroid updates are per-(cluster, dim) means of round-9
    doubles summed as exact DECIMAL, so every centroid component is
    bit-identical across engines and partitionings.  Cosine is
    scale-invariant, so the spherical-k-means centroid normalization
    is skipped (it cannot change any assignment).  A cluster that
    captures no vectors drops out of later iterations (documented;
    requires an adversarial init on real data).

    Scale shape: centroids are a k-row broadcast at every step —
    assignment never shuffles the corpus: the centroid set collapses
    to ONE broadcast row holding a sorted array of (cluster, cvec)
    structs, and the argmax-cosine winner is a per-row higher-order
    ``aggregate`` fold over that array (r11, guide §2.3/§2.4 — the
    previous shape crossJoined k centroid rows and re-grouped by
    vec_id, which put one vec-payload Exchange under EVERY assign
    pass; the fold keeps assignment exchange-free).  The fold
    iterates the array in ascending-cluster order taking the lexical
    minimum of (−round-6 cosine, cluster), which is exactly the old
    ``min(struct(_negcos, cluster))`` total order, ties to the
    lowest cluster id; the cosine inside the lambda is the same
    strict left-to-right double accumulation as
    :func:`fuel_spark.functions.cosine_expr`, so every assignment is
    bit-identical to the crossJoin shape.  The update is a posexplode
    to (cluster, dim) keys — N×dims narrow rows reduced by map-side
    combine to k×dims×partitions before the one tiny shuffle.  Per
    iteration: two corpus scans, zero corpus-wide shuffles.

    Output: vec_id, cluster (the winning pivot's id), cosine to its
    final centroid (round 6).
    """
    DECC = "decimal(27,18)"
    c = materialize(  # scanned 2x per iteration + final
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    )
    cent = broadcast(
        corpus.select(
            F.col(id_col).alias("cluster"), F.col(vec_col).alias("cvec")
        )
        .orderBy("cluster")
        .limit(int(k))
    )

    id_type = dict(corpus.dtypes)[id_col]
    # cosine(vec, cc.cvec) with cosine_expr's exact operation order:
    # dot / (norm_a * norm_b).  norm_a is per-ROW (hoisted to the _na
    # column, computed once instead of once per centroid) and norm_b
    # is per-CENTROID (precomputed into the collected array), so the
    # fold evaluates k dot products per row — the arithmetic values
    # and their combination order are bit-identical to cosine_expr.
    _dot = (
        "aggregate(zip_with(vec, cc.cvec,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    _norm_a_sql = (
        "sqrt(aggregate(transform(vec, x -> CAST(x AS DOUBLE)"
        " * CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    )
    _norm_b_sql = (
        "sqrt(aggregate(transform(cvec, x -> CAST(x AS DOUBLE)"
        " * CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    )
    _argmin = (
        "aggregate(_cs,"
        f" CAST(NULL AS STRUCT<_n: DOUBLE, _c: {id_type}>),"
        " (acc, cc) -> least(acc, struct("
        f"  -round(({_dot}) / (_na * cc._nb), 6) AS _n,"
        "  cc.cluster AS _c)),"
        " acc -> acc._c)"
    )

    def _assign(centroids):
        cent_arr = centroids.select(
            "cluster", "cvec", F.expr(_norm_b_sql).alias("_nb")
        ).agg(
            F.expr("array_sort(collect_list(struct(cluster, cvec, _nb)))")
            .alias("_cs")
        )
        return (
            c.crossJoin(broadcast(cent_arr))
            .withColumn("_na", F.expr(_norm_a_sql))
            .select("vec_id", "vec", F.expr(_argmin).alias("cluster"))
        )

    for _ in range(int(iterations)):
        assigned = _assign(cent)
        upd = (
            assigned.select("cluster", F.posexplode("vec").alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(
                F.round(
                    F.sum(
                        F.round(F.col("val").cast("double"), 9).cast(DECC)
                    ).cast("double")
                    / F.count(F.lit(1)),
                    9,
                ).alias("m")
            )
            .groupBy("cluster")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(dim, m))),"
                    " s -> s.m)"
                ).alias("cvec")
            )
        )
        cent = broadcast(upd)

    final = _assign(cent)
    cvecs = cent.select("cluster", F.col("cvec").alias("_fc"))
    return (
        final.join(broadcast(cvecs), "cluster")
        .withColumn("cosine", F.round(cosine_expr("vec", "_fc"), 6))
        .select("vec_id", "cluster", "cosine")
    )
