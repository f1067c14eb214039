"""Iterative graph analytics as DataFrame loops.

LLM-pipeline extension (no fuel analogue; the iterative-loop
discipline — cache, converge, ``localCheckpoint`` lineage hygiene —
mirrors ``ops.dedup.connected_components``).  PageRank here is the
link-analysis primitive for corpus curation: rank domains/documents by
citation structure (the original use), or products by co-purchase
affinity, without ever materializing anything denser than the edge
list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fuel_spark.functions import checkpoint_if_narrow, ensure_parallelism

DEC = "decimal(27,18)"


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 10,
    checkpoint_interval: int = 3,
    undirected: bool = True,
    contrib_scale: int = 15,
    out_scale: int = 12,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """PageRank by power iteration over an edge DataFrame.

    Spark-first shape (the GraphX/Pregel loop in plain DataFrames):
    each round is one rank⋈edges join on the *source* key plus one
    map-side-combinable sum on the *destination* key — both reuse the
    same hash partitioning, nothing denser than the edge list ever
    exists.  Per-message contributions are rounded then summed as
    exact DECIMAL, so ranks are bit-deterministic at any parallelism
    (the repo-wide float contract).  A fixed iteration count keeps the
    loop deterministic; ``localCheckpoint`` every
    ``checkpoint_interval`` rounds truncates lineage exactly as in
    ``connected_components``.

    Dangling vertices (no out-edges) redistribute their mass uniformly
    — with ``undirected=True`` (each edge mirrored) none exist and the
    ranks sum to 1 exactly up to rounding.
    Output: vertex, rank.

    ``contrib_scale``/``out_scale`` control the per-message and final
    rounding.  The defaults (15/12) keep maximum precision for the
    iterative fit; the ORACLE-CHECKED fixed-iteration tier
    (``graph_pagerank_fixed``, r5) runs at 9/6 — the scales this
    repo's cross-engine float contract has pinned against DuckDB —
    so a small unrolled iteration count is exact-hash comparable.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if undirected:
        e = e.union(
            edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
        )
    e = e.distinct()
    # The distinct edge frame is referenced 5x before any cache
    # materializes (verts twice, deg once, the degree weld once, and
    # deg's second use in `base`) — for a corpus-derived graph
    # (textrank) every replay is the full extraction+distinct pass.
    # Two vertex-id columns keep it inside the width gate at any type.
    e = checkpoint_if_narrow(e)

    verts = (
        e.select(F.col("src").alias("vertex"))
        .union(e.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    deg = e.groupBy(F.col("src").alias("vertex")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # degree is loop-invariant: weld it onto the edge list ONCE so each
    # iteration costs a single src-keyed join + one dst-keyed sum
    e = (
        e.join(deg.select(F.col("vertex").alias("src"), "deg"), "src")
        .select("src", "dst", F.col("deg").alias("src_deg"))
        .cache()
    )
    n_rel = verts.groupBy().agg(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    # vertex, deg (>=1 when undirected), n — the loop-invariant frame
    base = (
        verts.join(deg, "vertex", "left")
        .crossJoin(F.broadcast(n_rel))
        .select("vertex", F.coalesce("deg", F.lit(0)).alias("deg"), "_n")
        .cache()
    )
    ranks = base.select(
        "vertex", (F.lit(1.0) / F.col("_n")).alias("rank")
    ).cache()
    try:
        for it in range(iterations):
            # r10: with broadcast_ranks the vertex-sized rank frame
            # broadcasts into the src-keyed join and the edge list is
            # NEVER shuffled — a win ONLY when the vertex set is
            # BOUNDED (a vocabulary graph: textrank passes True).
            # Measured at the 20x smoke on the part co-purchase graph
            # (vertices scale with the data, ~4M): broadcast 83.5s vs
            # shuffle join 54.4s — so the default stays False and
            # data-scaled graphs keep the shuffle join.  Identical
            # arithmetic either way.
            r = F.broadcast(ranks) if broadcast_ranks else ranks
            contribs = (
                e.join(r, e.src == r.vertex)
                .select(
                    F.col("dst").alias("vertex"),
                    F.round(F.col("rank") / F.col("src_deg"), contrib_scale)
                    .cast(DEC)
                    .alias("c"),
                )
            )
            summed = contribs.groupBy("vertex").agg(
                F.sum("c").cast("double").alias("_in")
            )
            s = F.broadcast(summed) if broadcast_ranks else summed
            new_ranks = base.join(s, "vertex", "left")
            if undirected:
                # mirrored edges mean deg >= 1 everywhere: no dangling
                # mass, so skip that whole per-iteration aggregate
                dmass = F.lit(0.0)
            else:
                # dangling mass: rank stuck on deg=0 vertices teleports
                # uniformly (the standard correction)
                dangling = (
                    ranks.join(base.select("vertex", "deg"), "vertex")
                    .where(F.col("deg") == 0)
                    .groupBy()
                    .agg(
                        F.coalesce(
                            F.sum(F.round(F.col("rank"), 15).cast(DEC)),
                            F.lit(0).cast(DEC),
                        ).cast("double").alias("_dangling")
                    )
                )
                new_ranks = new_ranks.crossJoin(F.broadcast(dangling))
                dmass = F.col("_dangling")
            new_ranks = new_ranks.select(
                "vertex",
                (
                    (F.lit(1.0) - damping) / F.col("_n")
                    + F.lit(damping)
                    * (
                        F.coalesce("_in", F.lit(0.0))
                        + dmass / F.col("_n")
                    )
                ).alias("rank"),
            )
            if checkpoint_interval and (it + 1) % checkpoint_interval == 0:
                new_ranks = new_ranks.localCheckpoint(eager=True)
            else:
                new_ranks = new_ranks.cache()
            ranks.unpersist()
            ranks = new_ranks
        return ranks.select(
            "vertex", F.round(F.col("rank"), out_scale).alias("rank")
        )
    finally:
        e.unpersist()
        base.unpersist()


def degree_distribution(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """Degree histogram of an edge list: (degree, n_vertices) — the
    first diagnostic to run on any graph before iterating on it
    (a heavy-tailed co-purchase or link graph is exactly where
    PageRank/CC need their skew guards, and this is the query that
    shows the tail).

    Undirected mode counts each endpoint once per incident edge
    (src and dst rows union before the rollup); directed mode counts
    out-degree only.  Two map-side-combinable aggs on narrow
    bigint columns — degree-histogramming a 10^11-edge graph moves
    only vertex ids and counts through the shuffles.
    """
    ends = edges.select(F.col(src_col).alias("vertex"))
    if not directed:
        ends = ends.unionAll(edges.select(F.col(dst_col).alias("vertex")))
    deg = ends.groupBy("vertex").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
        .select(F.col("degree").cast("bigint"), F.col("n_vertices").cast("bigint"))
    )


def hits_fixed(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    contrib_scale: int = 9,
    out_scale: int = 6,
    broadcast_scores: bool = True,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) by fixed-count
    mutual power iteration over a DIRECTED edge list: an authority is
    pointed at by good hubs, a hub points at good authorities — the
    second classic link-analysis ranking, and on bipartite graphs
    (supplier→part, user→domain) the natural "diverse sourcer" /
    "widely sourced" pair of scores that a single PageRank conflates.

    Each half-step is one edge⋈score join plus one
    map-side-combinable sum — the pagerank loop shape; nothing denser
    than the edge list ever exists, and every score frame is
    vertex-sized.  With ``broadcast_scores`` (default) the
    vertex-sized score frame broadcasts into each join, so the edge
    list is NEVER shuffled — each half-step becomes one broadcast
    hash join plus one map-side-combinable sum (measured 17.8s → 12.8s
    at the 20× 8M-edge smoke — the remaining floor is the 6 edge-list
    scans the mutual recursion requires; pass False for web-scale
    vertex sets that exceed executor memory, falling back to the
    shuffle join).
    L1 normalization after each half-step divides by a
    broadcast 1-row DECIMAL-exact total (no sqrt, so the whole
    computation stays inside the repo's cross-engine float contract:
    contributions round to ``contrib_scale`` then sum as exact
    DECIMAL — bit-deterministic at any parallelism and exact-hash
    comparable against an unrolled-CTE oracle).

    Hub scores start uniform over source vertices.  Output one frame:
    side ('authority' | 'hub'), vertex, score (round ``out_scale``).

    Reference pattern: fuel has no graph analytics; this extends the
    fixed-iteration family (``pagerank`` above) the same way
    ``graph_pagerank_fixed`` did.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e = e.localCheckpoint(eager=False)  # consumed 2x per iteration

    srcs = e.select(F.col("src").alias("vertex")).distinct()
    dsts = e.select(F.col("dst").alias("vertex")).distinct()
    n_src = srcs.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    hubs = srcs.crossJoin(F.broadcast(n_src)).select(
        "vertex", (F.lit(1.0) / F.col("_n")).alias("score")
    )

    def _half(scores, key_in, key_out):
        """One half-step: push scores across edges from key_in to
        key_out, DECIMAL-sum, then L1-normalize."""
        s = F.broadcast(scores) if broadcast_scores else scores
        raw = (
            e.join(s, e[key_in] == s.vertex)
            .select(
                F.col(key_out).alias("vertex"),
                F.round(F.col("score"), contrib_scale).cast(DEC).alias("_c"),
            )
            .groupBy("vertex")
            .agg(F.sum("_c").cast("double").alias("_raw"))
            # consumed twice (L1 total + normalize) and feeds the next
            # half-step: without this, each of the 6 half-steps replays
            # its predecessors' joins (~2x per step compounding —
            # measured 41.8s vs 6.2s at the 20x smoke)
            .localCheckpoint(eager=False)
        )
        tot = raw.agg(
            F.sum(F.col("_raw").cast(DEC)).cast("double").alias("_t")
        )
        return raw.crossJoin(F.broadcast(tot)).select(
            "vertex", (F.col("_raw") / F.col("_t")).alias("score")
        )

    auths = None
    for _ in range(int(iterations)):
        auths = _half(hubs, "src", "dst")
        hubs = _half(auths, "dst", "src")
    out_a = auths.select(
        F.lit("authority").alias("side"),
        "vertex",
        F.round("score", out_scale).alias("score"),
    )
    out_h = hubs.select(
        F.lit("hub").alias("side"),
        "vertex",
        F.round("score", out_scale).alias("score"),
    )
    return out_a.unionByName(out_h)


def triangle_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle census of an undirected graph: edge, wedge and
    triangle counts plus the global clustering coefficient 3T/W —
    the cohesion diagnostic separating clique-y co-purchase/community
    structure from star-like hub structure (which PageRank/degree
    views can't distinguish).

    Scale shape is the DEGREE-ORDERED ORIENTATION algorithm (the
    standard distributed formulation, e.g. Suri & Vassilvitskii's
    MapReduce triangle counting): orient every edge from its lower
    (degree, id) endpoint to the higher, so each vertex's out-degree
    is O(√m) on any graph — wedge generation from the oriented list
    is Σ out-deg², bounded by m^1.5 worst-case instead of the
    unoriented Σ deg² which a single hub makes quadratic.  One
    self-join builds wedges, one join against the oriented edge list
    closes them; everything is narrow (id, id) rows.

    Output: one row — n_vertices, n_edges, n_wedges (unordered open
    + closed, from the UNORIENTED degrees), n_triangles,
    clustering_coeff = 3T/W (round 6).
    """
    e0 = edges.select(
        F.least(F.col(src), F.col(dst)).alias("a"),
        F.greatest(F.col(src), F.col(dst)).alias("b"),
    ).where(F.col("a") != F.col("b")).distinct()
    e0 = e0.localCheckpoint(eager=False)  # degrees + orientation + close
    deg = (
        e0.select(F.col("a").alias("v"))
        .unionAll(e0.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    deg = deg.localCheckpoint(eager=False)
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("_dega"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("_degb"))
    ed = (
        e0.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("_dega") < F.col("_degb"))
                | ((F.col("_dega") == F.col("_degb")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("w")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("w")))
            .alias("_e")
        )
        .select("_e.u", "_e.w")
    )
    ed = ed.localCheckpoint(eager=False)  # wedge join + closing join
    # width pin: oriented-edge rows are bytes-tiny (two ids), the
    # repo-wide AQE-coalesce defect class — the pin keeps the wedge
    # expansion parallel on SPARSE graphs where the frame is
    # kilobytes.  On the dense co-purchase graph it measures neutral
    # (34-41s at 10x either way): there the cost IS the wedge
    # volume — 148M unoriented wedges at sf0.1, 10x data
    # -> 10x wedges -> 10x wall-clock, linear in the answer size the
    # orientation already bounds at sum C(outdeg,2) <= m^1.5
    ed = ensure_parallelism(ed, "u")
    w1 = ed.select(F.col("u"), F.col("w").alias("x"))
    w2 = ed.select(F.col("u"), F.col("w").alias("y"))
    wedges = (
        w1.join(w2, "u")
        .where(F.col("x") < F.col("y"))
        .select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
    )
    tri = wedges.join(e0, ["a", "b"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    nv = deg.agg(F.count(F.lit(1)).alias("n_vertices"))
    ne = e0.agg(F.count(F.lit(1)).alias("n_edges"))
    # unordered wedge count from UNORIENTED degrees: Σ C(deg, 2)
    nw = deg.agg(
        F.sum(
            F.col("deg").cast("long") * (F.col("deg").cast("long") - 1) / 2
        ).cast("long").alias("n_wedges")
    )
    out = (
        nv.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(nw))
        .crossJoin(F.broadcast(tri))
    )
    cc = (
        F.lit(3.0)
        * F.col("n_triangles").cast("double")
        / F.greatest(F.col("n_wedges").cast("double"), F.lit(1.0))
    )
    return out.select(
        "n_vertices",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.round(cc, 6).alias("clustering_coeff"),
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity (Newman 2002): Pearson correlation of the
    endpoint degrees across undirected edges — positive = hubs link
    hubs (social-style), negative = hubs link leaves
    (infrastructure/star-style); with the clustering coefficient,
    the second one-number topology summary.

    Each undirected edge contributes BOTH orientations to the moment
    sums (the standard symmetric formulation).  Degrees join onto the
    edge list (two narrow joins), moments are round-4 DECIMAL-exact
    (degree products are integers; scale headroom for 10^12-edge
    graphs), correlation in one fixed double chain.

    Output: one row — n_edges, assortativity (round 6).
    """
    e0 = edges.select(
        F.least(F.col(src), F.col(dst)).alias("a"),
        F.greatest(F.col(src), F.col(dst)).alias("b"),
    ).where(F.col("a") != F.col("b")).distinct()
    e0 = e0.localCheckpoint(eager=False)
    deg = (
        e0.select(F.col("a").alias("v"))
        .unionAll(e0.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("_dx"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("_dy"))
    both = (
        e0.join(da, "a")
        .join(db, "b")
        .select(F.col("_dx").alias("x"), F.col("_dy").alias("y"))
    )
    both = both.unionAll(both.select(F.col("y").alias("x"), F.col("x").alias("y")))
    DECA = "decimal(38,4)"
    x = F.col("x").cast("double")
    y = F.col("y").cast("double")
    m = both.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x.cast(DECA)).cast("double").alias("_sx"),
        F.sum(y.cast(DECA)).cast("double").alias("_sy"),
        F.sum((x * y).cast(DECA)).cast("double").alias("_sxy"),
        F.sum((x * x).cast(DECA)).cast("double").alias("_sxx"),
        F.sum((y * y).cast(DECA)).cast("double").alias("_syy"),
    )
    n = F.col("_n").cast("double")
    cov = F.col("_sxy") / n - (F.col("_sx") / n) * (F.col("_sy") / n)
    vx = F.col("_sxx") / n - (F.col("_sx") / n) * (F.col("_sx") / n)
    vy = F.col("_syy") / n - (F.col("_sy") / n) * (F.col("_sy") / n)
    return m.select(
        (F.col("_n") / 2).cast("bigint").alias("n_edges"),
        (
            F.round(cov / F.sqrt(F.greatest(vx * vy, F.lit(1e-300))), 6)
            + F.lit(0.0)
        ).alias("assortativity"),
    )


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    top_k: int = 20,
    max_center_degree: int = 512,
) -> DataFrame:
    """Common-neighbor link prediction over an undirected graph: for
    every NON-adjacent pair sharing ≥1 common neighbor, the classic
    score triple — common-neighbor count, neighborhood Jaccard
    |Γa∩Γb| / |Γa∪Γb|, and Adamic–Adar Σ_w 1/ln(deg w) (Adamic &
    Adar 2003; Liben-Nowell & Kleinberg 2007) — top-k by Adamic–Adar.
    On the co-purchase graph: "which parts should co-sell but don't
    yet" — the recommender/assortment-gap readout.

    Scale shape: candidate pairs are exactly the UNORIENTED wedges
    (unlike triangles, common-neighbor counting needs every wedge, so
    the degree-ordered orientation does not apply) — Σ C(deg w, 2)
    rows, which IS the answer's candidate-set size, not plan waste;
    the 10× smoke scales linearly in that volume like
    :func:`triangle_stats`.  Hub centers above ``max_center_degree``
    are dropped BEFORE expansion (a deg-D hub alone contributes
    C(D,2) wedges while Adamic–Adar already discounts it to
    1/ln D ≈ 0 — the same bounded-bucket guard as the dedup pair
    family), capping wedge work at ~cap·m/2 = LINEAR in edges; the
    guard is mirrored in the SQL oracle so parity holds even when it
    bites (no-op at the tested scales: max degree 222 at sf0.1).
    common/jaccard therefore count only through retained centers
    (stated).  Adamic–Adar terms round-9 → DECIMAL sums, so the
    top-k boundary is engine-exact.

    Output: part_a < part_b (non-edges only), common_neighbors,
    deg_a, deg_b, jaccard, adamic_adar (round 6), top-k by
    (adamic_adar desc, part_a, part_b).
    """
    e0 = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    e0 = e0.localCheckpoint(eager=False)  # degrees + adjacency + anti-join
    deg = (
        e0.select(F.col("a").alias("v"))
        .unionAll(e0.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    deg = deg.localCheckpoint(eager=False)  # centers + endpoint degrees
    adj = e0.select(F.col("a").alias("w"), F.col("b").alias("x")).unionAll(
        e0.select(F.col("b").alias("w"), F.col("a").alias("x"))
    )
    ctr = deg.where(F.col("deg") <= int(max_center_degree)).select(
        F.col("v").alias("w"), F.col("deg").alias("_dw")
    )
    adjc = adj.join(ctr, "w")
    # width pin: (id, id, deg) rows are bytes-tiny — the repo-wide
    # AQE-coalesce class; the pin keeps the wedge expansion parallel
    adjc = ensure_parallelism(adjc, "w")
    wx = adjc.select("w", F.col("x").alias("_xa"), "_dw")
    wy = adjc.select("w", F.col("x").alias("_xb"))
    wedges = (
        wx.join(wy, "w")
        .where(F.col("_xa") < F.col("_xb"))
        .select(
            F.col("_xa").alias("part_a"),
            F.col("_xb").alias("part_b"),
            F.round(F.lit(1.0) / F.log(F.col("_dw").cast("double")), 9)
            .cast("decimal(27,18)")
            .alias("_aat"),
        )
    )
    scores = wedges.groupBy("part_a", "part_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
        F.sum("_aat").alias("_aa"),
    )
    nonedge = scores.join(
        e0.select(F.col("a").alias("part_a"), F.col("b").alias("part_b")),
        ["part_a", "part_b"],
        "left_anti",
    )
    top = nonedge.orderBy(
        F.desc("_aa"), F.asc("part_a"), F.asc("part_b")
    ).limit(int(top_k))
    da = deg.select(F.col("v").alias("part_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("part_b"), F.col("deg").alias("deg_b"))
    return (
        top.join(da, "part_a")
        .join(db, "part_b")
        .select(
            "part_a",
            "part_b",
            "common_neighbors",
            "deg_a",
            "deg_b",
            F.round(
                F.col("common_neighbors").cast("double")
                / (
                    F.col("deg_a").cast("double")
                    + F.col("deg_b").cast("double")
                    - F.col("common_neighbors").cast("double")
                ),
                6,
            ).alias("jaccard"),
            F.round(F.col("_aa").cast("double"), 6).alias("adamic_adar"),
        )
        .orderBy(F.desc("adamic_adar"), "part_a", "part_b")
    )


def kcore_fixed(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 10,
    rounds: int = 3,
    broadcast_keep: bool = True,
) -> DataFrame:
    """Fixed-iteration k-core peeling of an undirected graph: each
    round drops every vertex with degree < ``k`` and restricts the
    edge set to survivors; after enough rounds the fixed point is the
    k-core — the standard "dense cohesive backbone" extraction
    (community cores, spam/bot subgraph isolation, curriculum
    ordering by coreness).  Like [[graph_pagerank_fixed]] /
    [[graph_hits_fixed]], the round count is FIXED so the plan
    unrolls and the DuckDB twin replays it exactly; convergence is
    not claimed at ``rounds`` (stated) — the trajectory itself is the
    deliverable (how fast the periphery peels).

    Scale shape: each round is one endpoint-union degree rollup
    (map-side combinable, vertex-sized output) + two BROADCAST
    semi-joins restricting the narrow (id, id) edge list — the keep
    set is vertex-sized by construction, and without the explicit
    broadcast Spark picked SortMergeJoin off the checkpointed frame's
    size estimate, shuffling the full edge list twice per round
    (scale-found at 20×: 66-76s → 23s after broadcasting keep and
    dropping a duplicated per-round checkpoint; the surviving-edge
    checkpoint itself stays — it is multi-referenced by the next
    round's rollup, both semi-joins and the census, the HITS replay
    lesson).  Work is O(m) per round, no pair expansion anywhere.
    Output: one row per round — round, n_vertices, n_edges
    (survivors AFTER that round's peel), ordered by round.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    census = []
    e = e.localCheckpoint(eager=False)
    for r in range(1, int(rounds) + 1):
        deg = (
            e.select(F.col("a").alias("v"))
            .unionAll(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("_d"))
        )
        keep = deg.where(F.col("_d") >= int(k)).select("v")
        keep = keep.localCheckpoint(eager=False)  # both semi-joins + count
        # broadcast_keep=False is the billion-vertex escape hatch, the
        # lpa_fixed/HITS knob (50x pressure smoke: 23s at 20x -> 106s
        # at 50x as broadcast volume x tasks grows)
        ka = keep.select(F.col("v").alias("a"))
        kb = keep.select(F.col("v").alias("b"))
        if broadcast_keep:
            ka, kb = F.broadcast(ka), F.broadcast(kb)
        e = e.join(ka, "a", "left_semi").join(kb, "b", "left_semi")
        e = e.localCheckpoint(eager=False)
        census.append(
            keep.agg(
                F.lit(r).cast("int").alias("round"),
                F.count(F.lit(1)).cast("bigint").alias("n_vertices"),
            ).crossJoin(
                F.broadcast(
                    e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
                )
            )
        )
    out = census[0]
    for c in census[1:]:
        out = out.unionByName(c)
    return out.orderBy("round")


def lpa_fixed(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
    broadcast_labels: bool = True,
) -> DataFrame:
    """Synchronous label propagation (Raghavan, Albert & Kumara 2007)
    with a FIXED iteration count and a deterministic tie rule —
    community detection as the repo's standard "pin the mechanics
    under the exact-hash gate" tier (the HITS/PageRank/k-core
    pattern): every node starts labeled with its own id; each round
    it adopts the most frequent label among its neighbors, ties to
    the SMALLEST label (round 1 therefore reduces to min-neighbor-id
    — stated, the deterministic seed of the usual randomized LPA).

    Shuffle story per iteration: one edge⋈labels join keyed on the
    neighbor end, one map-side-combinable (node, label) count, one
    per-node argmax via ``min(struct(-cnt, label))`` (no window over
    facts); the labels frame is vertex-sized and lazily
    localCheckpointed each round so round t does not replay round
    t−1's join chain (the k-core/HITS replay lesson).  Edges are
    mirrored once up front; the edge list itself never shuffles
    after that.

    Output: (community, n_members) — the community census, one row
    per surviving label.
    """
    e0 = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
    em = e0.unionAll(e0.select(F.col("d").alias("s"), F.col("s").alias("d")))
    em = em.localCheckpoint(eager=False)
    labels = em.select(F.col("s").alias("v")).distinct().select(
        "v", F.col("v").alias("lbl")
    )
    for _ in range(int(iters)):
        # EXPLICIT broadcast of the vertex-sized labels frame: Spark's
        # size estimate of a checkpointed aggregate is poor enough to
        # pick a SortMergeJoin that shuffles the full mirrored edge
        # list EVERY round (the r5 k-core defect, same signature —
        # measured 46s -> 12s at the 10x smoke).  Right while
        # |vertices| << |edges| (a dim-sized co-purchase graph); the
        # 50x pressure smoke (r7) quantified the crossover — wall
        # grows with broadcast volume x task count (31.8s at 20x ->
        # 109s at 50x, mildly super-linear), so billion-vertex graphs
        # pass broadcast_labels=False and let the shuffle join win
        # (the HITS broadcast_scores knob, same pattern).
        lbl_frame = labels.select(F.col("v").alias("d"), "lbl")
        if broadcast_labels:
            lbl_frame = F.broadcast(lbl_frame)
        nb = em.join(lbl_frame, "d").select(F.col("s").alias("v"), "lbl")
        counts = nb.groupBy("v", "lbl").agg(
            F.count(F.lit(1)).cast("bigint").alias("_c")
        )
        labels = (
            counts.groupBy("v")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("_c")).alias("_neg"),
                        F.col("lbl").alias("lbl"),
                    )
                ).alias("_m")
            )
            .select("v", F.col("_m.lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
