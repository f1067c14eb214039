"""MLlib integration: vector interop + IVF ANN quality vs brute force."""

import pytest
from pyspark.sql import functions as F

from fuel_spark import ml
from fuel_spark.ops import similarity
from fuel_spark.sources import from_rows, load_tables

SF = "/root/testdata/sf0.001"


def test_vector_roundtrip(spark):
    df = from_rows(spark, [(0, [1.0, 2.0, 3.0])], schema="k bigint, a array<float>")
    v = ml.to_ml_vector(df, "a")
    assert "features" in v.columns
    back = ml.from_ml_vector(v, "features", "b").first()
    assert back.b == [1.0, 2.0, 3.0]


def test_ivf_ann_recall_vs_bruteforce(spark):
    e = load_tables(spark, SF)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(e, q, k=5)
    approx = ml.ivf_ann(e, q, k=5, k_clusters=8, nprobe=4, seed=7)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    # nprobe=4 of 8 clusters should recover most true neighbors
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # ranks are 1..k per query, cosine within [-1, 1]
    for r in approx.collect():
        assert 1 <= r.rank <= 5 and -1.0 <= r.cosine <= 1.0


def test_ivf_sampled_fit_and_persisted_index(spark, tmp_path):
    """Sampled coarse-quantizer fit + save/load roundtrip: recall
    holds with a half-corpus fit and a reloaded index."""
    e = load_tables(spark, SF)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    model = ml.fit_ivf_index(e, k_clusters=8, seed=7, fit_fraction=0.5)
    path = str(tmp_path / "ivf_index")
    ml.save_ivf_index(model, path)
    loaded = ml.load_ivf_index(path)
    assert len(loaded.clusterCenters()) == 8

    exact = similarity.cosine_topk(e, q, k=5)
    approx = ml.ivf_ann(e, q, k=5, k_clusters=8, nprobe=4, seed=7, model=loaded)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"sampled-fit IVF recall too low: {recall}"


def test_pca_matches_numpy_up_to_sign(spark):
    """Projections agree with numpy's covariance eigendecomposition up
    to per-component sign; variance concentrates in the first
    component for an anisotropic cloud."""
    import numpy as np

    from fuel_spark.ml import pca_embeddings
    from fuel_spark.sources import from_rows

    rng = np.random.RandomState(7)
    # stretched along a fixed direction in 6-d
    base = rng.randn(200, 6) * np.array([5.0, 2.0, 1.0, 0.5, 0.2, 0.1])
    rows = [
        {"vec_id": i, "embedding": [float(x) for x in base[i]]}
        for i in range(200)
    ]
    out = (
        pca_embeddings(from_rows(spark, rows), "vec_id", "embedding", k=2)
        .orderBy("vec_id")
        .collect()
    )
    got = np.array([r.pca for r in out])

    # MLlib convention: eigenbasis of the CENTERED sample covariance,
    # but transform projects the raw (uncentered) rows onto it
    x = base - base.mean(axis=0)
    cov = (x.T @ x) / (len(base) - 1)
    w, v = np.linalg.eigh(cov)
    comps = v[:, np.argsort(w)[::-1][:2]]
    want = base @ comps
    for j in range(2):
        assert (
            np.allclose(got[:, j], want[:, j], atol=1e-6)
            or np.allclose(got[:, j], -want[:, j], atol=1e-6)
        )
    # anisotropy: first component carries far more energy
    assert (got[:, 0] ** 2).sum() > 4 * (got[:, 1] ** 2).sum()


def test_domain_clusters_separates_and_labels(spark):
    """Two well-separated embedding blobs with distinct vocabularies:
    the op finds both groups and labels each with its own terms."""
    from fuel_spark.ml import domain_clusters
    from fuel_spark.sources import from_rows

    rows_d, rows_e = [], []
    for i in range(30):
        blob = i % 2
        vec = [10.0 * blob + (i % 5) * 0.01, -3.0 * blob, 1.0]
        text = "cats felines whiskers" if blob else "stocks markets bonds"
        rows_d.append({"doc_id": i, "text": text})
        rows_e.append({"vec_id": i, "embedding": vec})
    out = domain_clusters(
        from_rows(spark, rows_d),
        from_rows(spark, rows_e),
        k_clusters=2,
        top_terms=3,
        seed=3,
    ).collect()
    assert len(out) == 2
    assert sorted(r.n_docs for r in out) == [15, 15]
    labels = {frozenset(r.top_terms.split(",")) for r in out}
    assert labels == {
        frozenset(["cats", "felines", "whiskers"]),
        frozenset(["stocks", "markets", "bonds"]),
    }


def test_trained_quality_model_separates_prose_from_garbage(spark):
    from fuel_spark import ml

    prose = [
        (i, "the quick brown fox jumps over the lazy dog and it was "
            "a fine day for running in the field " * 2, 1.0)
        for i in range(20)
    ]
    garbage = [
        (100 + i, "zx qv kj wp 9 !!! ### ~~ " * 4, 0.0) for i in range(20)
    ]
    docs = spark.createDataFrame(
        prose + garbage, "doc_id long, text string, label double"
    )
    model = ml.fit_quality_model(docs, "text", "label")
    scored = {
        r.doc_id: r.quality_prob
        for r in ml.score_quality_model(model, docs, "text").collect()
    }
    prose_mean = sum(scored[i] for i in range(20)) / 20
    garbage_mean = sum(scored[100 + i] for i in range(20)) / 20
    assert prose_mean > 0.8 > 0.2 > garbage_mean
    # scoring keeps the input columns (narrow transform contract)
    row = ml.score_quality_model(model, docs, "text").columns
    assert row == ["doc_id", "text", "label", "quality_prob"]


def test_pivot_ivf_full_probe_recovers_exact(spark):
    """With nprobe == n_pivots every inverted list is scanned, so the
    deterministic pivot-IVF must reproduce the exact top-k verbatim —
    the strongest structural invariant of the probe-limited search."""
    e = load_tables(spark, SF)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.cosine_topk(e, q, k=5).collect()
    }
    full = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.pivot_ivf_ann(
            e, q, k=5, n_pivots=8, nprobe=8
        ).collect()
    }
    assert full == exact


def test_pivot_ivf_probe_limited_recall(spark):
    e = load_tables(spark, SF)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(e, q, k=5)
    approx = similarity.pivot_ivf_ann(e, q, k=5, n_pivots=8, nprobe=4)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"pivot-IVF recall too low: {recall}"
    for r in approx.collect():
        assert 1 <= r.rank <= 5 and -1.0 <= r.cosine <= 1.0


def test_pivot_pq_all_pivots_recovers_exact(spark):
    """When every corpus vector is its own codeword (n_codes = N) the
    PQ reconstruction is exact, and with an unbounded shortlist the
    ADC ordering cannot drop a true neighbor — the search must equal
    the exact top-k."""
    import math

    rows = [
        (
            i,
            [
                float(math.cos(0.7 * i + 0.3 * d)) for d in range(8)
            ],
        )
        for i in range(12)
    ]
    e = from_rows(spark, rows, schema="vec_id bigint, embedding array<float>")
    q = e.where(F.col("vec_id") < 3)
    exact = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.cosine_topk(e, q, k=4).collect()
    }
    full = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.pivot_pq_ann(
            e, q, dim=8, k=4, m=2, n_codes=12, shortlist=12
        ).collect()
    }
    assert full == exact


def test_pivot_pq_compressed_contract(spark):
    """Registry parameterization: m=4 sub-codebooks over 64 dims, 8
    codewords each — lossy by construction, but ranks stay 1..k and a
    meaningful share of the true top-5 must survive the ADC
    shortlist."""
    e = load_tables(spark, SF)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(e, q, k=5)
    approx = similarity.pivot_pq_ann(
        e, q, dim=64, k=5, m=4, n_codes=8, shortlist=20
    )
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert len(approx_set) == len(exact_set)
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3, f"pivot-PQ recall collapsed: {recall}"
    for r in approx.collect():
        assert 1 <= r.rank <= 5 and -1.0 <= r.cosine <= 1.0


def test_kmeans_fixed_recovers_separated_clusters(spark):
    """Two well-separated direction bundles: every vector lands with
    the pivot from its own bundle, twice-run output is bit-identical,
    and cosines to the final centroid are ~1."""
    from fuel_spark.ml import kmeans_fixed

    rows = []
    # interleave ids so the two pivot ids (0, 1) land one per bundle:
    # even ids around +x, odd ids around +z
    for i in range(10):
        rows.append((2 * i, [10.0, float(i % 3) * 0.1, 0.0, 0.0]))
        rows.append((2 * i + 1, [0.0, float(i % 3) * 0.1, 10.0, 0.0]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out1 = {r.vec_id: (r.cluster, r.cosine)
            for r in kmeans_fixed(df, k=2, iterations=2).collect()}
    out2 = {r.vec_id: (r.cluster, r.cosine)
            for r in kmeans_fixed(df, k=2, iterations=2).collect()}
    assert out1 == out2  # deterministic
    assert {out1[v][0] for v in range(0, 20, 2)} == {0}
    assert {out1[v][0] for v in range(1, 20, 2)} == {1}
    assert all(c > 0.99 for _, c in out1.values())


def test_pivot_lsh_twin_shares_every_sign_and_ranks_first(spark):
    """An exact duplicate of the query vector has identical dot signs
    against EVERY plane, so it lands in the query's own bucket (probed
    at radius 0) and must come back at rank 1 with cosine 1.0 — the
    structural guarantee that makes sign-LSH a near-dup blocker."""
    import math

    rows = [
        (i, [float(math.cos(0.9 * i + 0.4 * d)) for d in range(8)])
        for i in range(12)
    ]
    rows.append((12, list(rows[2][1])))  # exact twin of vec 2
    e = from_rows(spark, rows, schema="vec_id bigint, embedding array<float>")
    q = e.where(F.col("vec_id") == 2)
    got = sorted(
        similarity.pivot_lsh_ann(e, q, k=3, n_planes=4, probes=1).collect(),
        key=lambda r: r.rank,
    )
    assert got[0].neighbor_id == 12
    assert got[0].cosine == 1.0
    for r in got:
        assert 1 <= r.rank <= 3 and -1.0 <= r.cosine <= 1.0


def test_pivot_lsh_registry_contract(spark):
    """Registry parameterization (6 planes, radius-1 probe) on the
    testdata embeddings: ranks stay 1..k, cosines bounded, and every
    (query, neighbor) pair is unique — multi-probe must not emit a
    candidate twice even though a pair can meet in several probed
    buckets' UNION (radius-1 buckets are pairwise distinct, so no
    dedup pass exists to hide a violation)."""
    e = load_tables(spark, SF)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    out = similarity.pivot_lsh_ann(e, q, k=5, n_planes=6, probes=1).collect()
    pairs = [(r.query_id, r.neighbor_id) for r in out]
    assert len(pairs) == len(set(pairs))
    for r in out:
        assert 1 <= r.rank <= 5 and -1.0 <= r.cosine <= 1.0
        assert r.query_id != r.neighbor_id


def test_centroid_shift_identical_halves_read_one(spark):
    """Even and odd ids carrying the SAME two vectors per label give
    identical half-centroids: cosine exactly 1, l2_shift exactly 0."""
    rows = []
    for vid, lab, vec in [
        (0, "a", [1.0, 0.0]), (1, "a", [1.0, 0.0]),
        (2, "a", [0.0, 2.0]), (3, "a", [0.0, 2.0]),
        (4, "b", [3.0, 4.0]), (5, "b", [3.0, 4.0]),
    ]:
        rows.append((vid, vec, lab))
    df = from_rows(spark, rows,
                   schema="vec_id bigint, embedding array<double>, label string")
    out = {r.label: r for r in similarity.centroid_shift(df).collect()}
    assert out["a"].cosine == 1.0 and out["a"].l2_shift == 0.0
    assert out["a"].n_even == 2 and out["a"].n_odd == 2
    assert out["b"].cosine == 1.0


def test_centroid_shift_detects_rotation(spark):
    """Odd ids rotated 90 degrees from even ids: cosine 0."""
    rows = [(0, [1.0, 0.0], "a"), (2, [1.0, 0.0], "a"),
            (1, [0.0, 1.0], "a"), (3, [0.0, 1.0], "a")]
    df = from_rows(spark, rows,
                   schema="vec_id bigint, embedding array<double>, label string")
    r = similarity.centroid_shift(df).first()
    assert r.cosine == 0.0
    assert abs(r.l2_shift - 2 ** 0.5) < 1e-6


def test_kcenter_coreset_picks_extremes_and_radius_decreases(spark):
    """A tight cluster at the origin plus three far-flung outliers:
    the traversal must pick all three outliers before a second
    cluster point, and the radius sequence must be non-increasing."""
    rows = [
        (0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [0.0, 0.1]), (3, [0.1, 0.1]),
        (10, [100.0, 0.0]), (11, [0.0, 100.0]), (12, [-100.0, -100.0]),
    ]
    df = from_rows(spark, rows, schema="vec_id bigint, embedding array<double>")
    out = sorted(similarity.kcenter_coreset(df, k=5).collect(),
                 key=lambda r: r.rank)
    assert out[0].vec_id == 0 and out[0].radius is None  # min-id seed
    assert {r.vec_id for r in out[1:4]} == {10, 11, 12}
    radii = [r.radius for r in out[1:]]
    assert radii == sorted(radii, reverse=True)
    # rank-4 pick is back inside the cluster: tiny radius
    assert out[4].radius <= 0.02 + 1e-9


def test_kcenter_coreset_never_repicks_duplicates(spark):
    """With exact duplicate vectors everywhere, all picked ids must
    still be distinct (the anti-join guard on the all-zeros tie)."""
    rows = [(i, [1.0, 2.0]) for i in range(8)]
    df = from_rows(spark, rows, schema="vec_id bigint, embedding array<double>")
    out = similarity.kcenter_coreset(df, k=4).collect()
    ids = [r.vec_id for r in out]
    assert len(set(ids)) == 4
    assert all(r.radius == 0.0 for r in out if r.rank > 0)


def test_pivot_lsh_radius2_candidates_superset_and_recall(spark):
    """Radius-2 probing explores a strict superset of radius-1's
    buckets, so per-query recall vs brute force can only improve (or
    hold); probes=3 still rejects loudly."""
    import pytest

    e = load_tables(spark, SF)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(e, q, k=5).collect()
    }
    def hits(probes):
        got = {
            (r.query_id, r.neighbor_id)
            for r in similarity.pivot_lsh_ann(
                e, q, k=5, n_planes=6, probes=probes).collect()
        }
        return len(got & brute)
    assert hits(2) >= hits(1) >= hits(0)
    with pytest.raises(ValueError):
        similarity.pivot_lsh_ann(e, q, probes=3)


# --- round 8: ANN index lifecycle --------------------------------------


def _tiny_corpus(spark, n=16, dims=8):
    import math

    rows = [
        (i, [float(math.cos(0.7 * i + 0.3 * d)) for d in range(dims)])
        for i in range(n)
    ]
    return from_rows(
        spark, rows, schema="vec_id bigint, embedding array<float>"
    )


def test_ann_index_matches_search_bucketing(spark):
    """pivot_lsh_index under pivot_lsh_planes files every vector in
    [0, 2^n_planes) and agrees with the search path: a vector's
    radius-0 self-probe must find itself in its own index bucket —
    i.e. index buckets and pivot_lsh_ann's internal bucketing are the
    SAME hash (consistency between the persisted index and the
    searcher is the whole point of freezing the family)."""
    e = _tiny_corpus(spark)
    planes = similarity.pivot_lsh_planes(e, n_planes=4)
    idx = {r.vec_id: r.bucket for r in
           similarity.pivot_lsh_index(e, planes).collect()}
    assert set(idx) == set(range(16))
    assert all(0 <= b < 16 for b in idx.values())
    # twin test: an exact duplicate re-keyed must land in the SAME
    # bucket as its source (identical dot signs)
    twin = e.where(F.col("vec_id") == 3).withColumn(
        "vec_id", F.lit(99).cast("bigint")
    )
    tb = similarity.pivot_lsh_index(twin, planes).first().bucket
    assert tb == idx[3]


def test_ann_merge_keeps_old_rows_and_freezes_family(spark):
    """Merging under the frozen family must leave every pre-existing
    index row byte-identical and bucket the batch with the OLD
    planes: merge cert reads n_moved == 0 when ingest ids stay above
    the pivot ids (family unchanged), > 0 when a batch inserts below
    them (the re-index pressure signal)."""
    e = _tiny_corpus(spark, n=20)
    old = e.where(F.col("vec_id") >= 4)
    planes = similarity.pivot_lsh_planes(old, n_planes=4)
    idx = similarity.pivot_lsh_index(old, planes)
    before = {(r.vec_id, r.bucket) for r in idx.collect()}

    # ids ABOVE every existing id: fresh rebuild derives the same
    # pivots, nothing moves
    high = e.where(F.col("vec_id") < 4).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100)
    )
    merged_high = similarity.ann_merge_into_index(idx, high, planes)
    assert before <= {(r.vec_id, r.bucket) for r in merged_high.collect()}
    cert = similarity.ann_index_merge_certificate(
        merged_high, old.unionByName(high), n_planes=4
    ).first()
    assert cert.n_index == cert.n_rebuilt == 20
    assert cert.n_moved == 0 and cert.moved_frac == 0.0

    # ids BELOW the pivots: the fresh family shifts, buckets move
    low = e.where(F.col("vec_id") < 4)
    merged_low = similarity.ann_merge_into_index(idx, low, planes)
    cert2 = similarity.ann_index_merge_certificate(
        merged_low, old.unionByName(low), n_planes=4
    ).first()
    assert cert2.n_moved > 0
    assert cert2.n_same_bucket + cert2.n_moved == cert2.n_index


def test_ann_compact_index_three_decays(spark):
    """Compaction drops exactly the three decays: replayed rows
    (dropDuplicates), tombstones (left_semi on live ids), hot buckets
    (> max_bucket) — pinned on a hand-built index."""
    idx = from_rows(
        spark,
        # bucket 7 holds ids 1..3 (hot at cap 2); bucket 9 holds 4..5;
        # id 5 is a tombstone; (1, 7) is replayed twice
        [(1, 7), (1, 7), (2, 7), (3, 7), (4, 9), (5, 9)],
        schema="vec_id bigint, bucket bigint",
    )
    live = from_rows(
        spark, [(i,) for i in (1, 2, 3, 4)], schema="vec_id bigint"
    )
    out = {
        (r.vec_id, r.bucket)
        for r in similarity.ann_compact_index(
            idx, live_ids=live, max_bucket=2
        ).collect()
    }
    # replay collapsed, id 5 gone; bucket 7 still has 3 members after
    # dedupe+tombstone -> over cap 2 -> dropped entirely; bucket 9
    # keeps its one survivor
    assert out == {(4, 9)}


def test_ann_compact_relative_cap_degrades_not_cliffs(spark):
    """The scale-relative cap (r9): where the absolute cap empties an
    index whose every bucket outgrew it, rel_max_bucket keeps every
    bucket within alpha x mean — only genuinely hot cells drop."""
    # 4 buckets sized 5/5/5/25 -> mean 10; rel cap 2.0 -> ceil(20)
    rows = [(100 * b + i, b) for b in range(3) for i in range(5)]
    rows += [(900 + i, 9) for i in range(25)]
    idx = from_rows(spark, rows, schema="vec_id bigint, bucket bigint")
    # absolute cap 4 < every bucket size -> the cliff: empty index
    assert similarity.ann_compact_index(idx, max_bucket=4).count() == 0
    # relative cap keeps the three normal cells, drops only the hot one
    out = similarity.ann_compact_index(idx, rel_max_bucket=2.0)
    kept = {r.bucket for r in out.collect()}
    assert kept == {0, 1, 2} and out.count() == 15
    # boundary exactness: sz == ceil(alpha x mean) is KEPT (<=, not <)
    # 2 buckets sized 2 and 4 -> mean 3, cap ceil(6) = 6 -> both kept
    idx2 = from_rows(
        spark,
        [(i, 0) for i in range(2)] + [(10 + i, 1) for i in range(4)],
        schema="vec_id bigint, bucket bigint",
    )
    assert similarity.ann_compact_index(idx2, rel_max_bucket=2.0).count() == 6


def test_ann_index_profile_exact_stats(spark):
    """Profile stats on a hand-built index: sizes {3, 1} give
    expected_candidates = (9 + 1) / 4 = 2.5 (the size-biased mean a
    random member's own bucket hands the rerank)."""
    idx = from_rows(
        spark,
        [(1, 7), (2, 7), (3, 7), (4, 9)],
        schema="vec_id bigint, bucket bigint",
    )
    p = similarity.ann_index_profile(idx, max_bucket=2).first()
    assert p.n_rows == 4 and p.n_buckets == 2
    assert p.max_bucket_sz == 3 and p.mean_bucket == 2.0
    assert p.n_over_cap == 1
    assert p.expected_candidates == 2.5


def test_ann_incremental_summary_screens_exact_clones(spark):
    """The composite's screen stage must catch an exact clone (cosine
    1.0 in the source's own bucket) and the stage ledger must add up:
    accepted = new - screened, merged = before + accepted."""
    e = _tiny_corpus(spark, n=16)
    old = e.where(F.col("vec_id") >= 4)
    clones = old.where(F.col("vec_id").isin(5, 6)).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100)
    )
    new = e.where(F.col("vec_id") < 4).unionByName(clones)
    stages = {
        r.stage: r.n_rows
        for r in similarity.ann_incremental_summary(
            old, new, n_planes=4, sim_threshold=0.999
        ).collect()
    }
    assert stages["index_before"] == 12
    assert stages["new_batch"] == 6
    assert stages["screened_dup"] >= 2  # both clones, plus any true near-dups
    assert stages["accepted"] == stages["new_batch"] - stages["screened_dup"]
    assert stages["index_merged"] == stages["index_before"] + stages["accepted"]
    assert stages["index_compacted"] == stages["index_merged"]  # no cap


def test_snapshot_drift_identical_and_one_sided(spark):
    """Identical snapshots read cosine 1.0 / l2 0 / not drifted; a
    group present in only one snapshot reads count 0 on the other
    side and drifted by definition."""
    rows = [
        (0, 0, [1.0, 0.0, 0.0, 0.0]),
        (1, 0, [0.0, 1.0, 0.0, 0.0]),
        (2, 1, [0.0, 0.0, 1.0, 0.0]),
    ]
    a = from_rows(
        spark, rows,
        schema="vec_id bigint, label int, embedding array<float>",
    )
    same = {r.label: r for r in
            similarity.snapshot_drift_certificate(a, a, "label").collect()}
    assert same[0].cosine == 1.0 and same[0].l2_shift == 0.0
    assert not same[0].drifted and same[0].n_a == same[0].n_b == 2

    b = a.where(F.col("label") == 0)  # label 1 vanishes in snapshot B
    got = {r.label: r for r in
           similarity.snapshot_drift_certificate(a, b, "label").collect()}
    assert got[1].n_b == 0 and got[1].drifted
    assert got[1].cosine is None


def test_ann_reindex_sweep_labels_and_ledger(spark):
    """The sweep emits one merge-cert row per split with consistent
    ledgers (same + moved = total), and a split whose ingest ids sit
    ABOVE the pivots reads zero pressure while one inserting below
    reads > 0 — the curve the sweep exists to draw."""
    e = _tiny_corpus(spark, n=24)
    out = {
        r.split: r
        for r in similarity.ann_reindex_pressure_sweep(
            e,
            [
                ("high", F.col("vec_id") >= 20),  # ingest above pivots
                ("low", F.col("vec_id") < 4),     # ingest below pivots
            ],
            n_planes=4,
        ).collect()
    }
    assert set(out) == {"high", "low"}
    for r in out.values():
        assert r.n_index == r.n_rebuilt == 24
        assert r.n_same_bucket + r.n_moved == r.n_index
    assert out["high"].n_moved == 0 and out["high"].moved_frac == 0.0
    assert out["low"].n_moved > 0


def test_ann_planes_sweep_monotone_buckets(spark):
    """More planes can only split buckets: bucket count is
    non-decreasing and expected_candidates non-increasing in
    n_planes; totals conserve (n_rows constant)."""
    e = _tiny_corpus(spark, n=32)
    rows = {r.n_planes: r for r in
            similarity.ann_planes_sweep(e, (2, 4, 6)).collect()}
    assert [rows[p].n_rows for p in (2, 4, 6)] == [32, 32, 32]
    assert rows[2].n_buckets <= rows[4].n_buckets <= rows[6].n_buckets
    assert (rows[2].expected_candidates
            >= rows[4].expected_candidates
            >= rows[6].expected_candidates)


def test_lsh_ann_builds_without_a_spark_job(spark):
    """Building the seeded-LSH search runs no Spark job: the plane dots
    fold over each vector's own components, with no driver-side probe
    of the embedding width."""
    e = load_tables(spark, SF)["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    sc = spark.sparkContext
    group = "test-ml-lsh-ann-build"
    sc.setJobGroup(group, "build lsh_ann")
    try:
        similarity.lsh_ann(e, q, k=5, num_planes=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_lsh_ann_plan_has_no_pair_dedup(spark):
    """Multi-probe candidates meet once per pair, so the plan has no
    aggregate keyed on (query_id, neighbor_id): no shuffle carrying
    both vectors to deduplicate them."""
    import re

    e = _tiny_corpus(spark)
    ann = similarity.lsh_ann(e, e.where(F.col("vec_id") < 4), k=3, num_planes=4)
    plan = ann._jdf.queryExecution().optimizedPlan().toString()
    keyed = [
        {re.sub(r"#\d+L?$", "", k.strip()) for k in m.split(",")}
        for m in re.findall(r"Aggregate \[([^\]]*)\]", plan)
    ]
    assert not [k for k in keyed if {"query_id", "neighbor_id"} <= k], plan


@pytest.mark.parametrize("radius", [1, 2])
def test_probe_candidates_are_unique(spark, radius):
    """Probe buckets of one query are pairwise distinct, so joining the
    probed queries to a bucketed corpus yields each (query, neighbor)
    pair once, at radius 1 and 2."""
    bits = 4
    corpus = spark.range(64).select(
        F.col("id").alias("neighbor_id"), (F.col("id") % 16).alias("bucket")
    )
    queries = spark.range(16).select(
        F.col("id").alias("query_id"), F.col("id").alias("bucket")
    )
    probed = similarity._probe(queries, bits, radius)
    per_query = 1 + bits + (bits * (bits - 1) // 2 if radius == 2 else 0)
    assert probed.count() == 16 * per_query
    pairs = probed.join(corpus, "bucket").select("query_id", "neighbor_id")
    assert pairs.count() == pairs.distinct().count() == 16 * per_query * 4


def test_pivot_lsh_index_plan_carries_no_vector(spark):
    """The shared bucketing carries the vector with any_value for the
    search path; the index keeps only (id, bucket), and Catalyst prunes
    that aggregate from its plan."""
    e = _tiny_corpus(spark)
    idx = similarity.pivot_lsh_index(e, similarity.pivot_lsh_planes(e, n_planes=4))
    assert idx.columns == ["vec_id", "bucket"]
    plan = idx._jdf.queryExecution().optimizedPlan().toString()
    assert "any_value" not in plan, plan
