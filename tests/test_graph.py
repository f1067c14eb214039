"""PageRank: numpy power-iteration equivalence, mass conservation,
determinism, and iterative-loop lineage hygiene."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fuel_spark.ops import graph
from fuel_spark.sources import from_rows


def _numpy_pagerank(edges, n, damping=0.85, iterations=10):
    """Reference model mirroring ops.graph.pagerank's conventions:
    undirected (mirrored edges), uniform init, fixed rounds, per-round
    contribution rounding at 15 dp."""
    adj = {}
    und = set()
    for s, d in edges:
        und.add((s, d))
        und.add((d, s))
    for s, d in und:
        adj.setdefault(s, []).append(d)
    r = {v: 1.0 / n for v in range(n)}
    for _ in range(iterations):
        incoming = {v: 0.0 for v in range(n)}
        for s, outs in adj.items():
            c = round(r[s] / len(outs), 15)
            for d in outs:
                incoming[d] += c
        r = {
            v: (1 - damping) / n + damping * incoming[v] for v in range(n)
        }
    return r


@pytest.fixture()
def star_plus_chain(spark):
    # vertex 0 is a hub (star to 1..4); 4-5-6 is a chain tail
    edges = [(0, 1), (0, 2), (0, 3), (0, 4), (4, 5), (5, 6)]
    df = from_rows(spark, edges, "src bigint, dst bigint")
    return df, edges, 7


def test_pagerank_matches_numpy_reference(spark, star_plus_chain):
    df, edges, n = star_plus_chain
    out = {r.vertex: r.rank for r in graph.pagerank(df, iterations=10).collect()}
    ref = _numpy_pagerank(edges, n, iterations=10)
    assert set(out) == set(range(n))
    for v in range(n):
        assert abs(out[v] - ref[v]) < 1e-9, (v, out[v], ref[v])
    # the hub outranks every leaf
    assert out[0] == max(out.values())


def test_pagerank_mass_conserved_and_deterministic(spark, star_plus_chain):
    df, _, _ = star_plus_chain
    a = {r.vertex: r.rank for r in graph.pagerank(df, iterations=10).collect()}
    b = {r.vertex: r.rank for r in graph.pagerank(df, iterations=10).collect()}
    assert a == b  # bit-identical across runs (decimal-summed messages)
    assert abs(sum(a.values()) - 1.0) < 1e-9


def test_pagerank_deep_chain_survives_checkpointing(spark):
    # diameter 30: 12 rounds, each carried into the next as a
    # materialized frame
    edges = [(i, i + 1) for i in range(30)]
    df = from_rows(spark, edges, "src bigint, dst bigint")
    out = graph.pagerank(df, iterations=12).collect()
    assert len(out) == 31
    ref = _numpy_pagerank(edges, 31, iterations=12)
    for r in out:
        assert abs(r.rank - ref[r.vertex]) < 1e-9
    # interior vertices (2 neighbors) outrank the chain endpoints
    by_v = {r.vertex: r.rank for r in out}
    assert by_v[15] > by_v[0] and by_v[15] > by_v[30]


def test_loops_leave_no_cached_frames(spark):
    """connected_components and pagerank carry their frames with
    materialize, never cache(): nothing is left in the cache manager
    when they return, nor after their first action."""
    from fuel_spark.ops import dedup

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    pairs = from_rows(
        spark, [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a bigint, id_b bigint"
    )
    comp = dedup.connected_components(pairs)
    assert cache.isEmpty()
    assert len(comp.collect()) == 6
    assert cache.isEmpty()
    edges = from_rows(spark, [(i, i + 1) for i in range(8)], "src bigint, dst bigint")
    ranks = graph.pagerank(edges, iterations=10)
    assert cache.isEmpty()
    assert len(ranks.collect()) == 9
    assert cache.isEmpty()


def test_pagerank_directed_dangling_mass(spark):
    # 0 -> 1 -> 2, vertex 2 dangles: mass must still sum to 1
    df = from_rows(spark, [(0, 1), (1, 2)], "src bigint, dst bigint")
    out = {
        r.vertex: r.rank
        for r in graph.pagerank(df, undirected=False, iterations=20).collect()
    }
    assert abs(sum(out.values()) - 1.0) < 1e-6
    # downstream of the chain accumulates rank
    assert out[2] > out[1] > out[0]


def test_degree_distribution_hand_graph(spark, star_plus_chain):
    df, edges, n = star_plus_chain
    # undirected: degrees 0:4, 4:2, 5:2, 1/2/3/6:1
    out = {r.degree: r.n_vertices for r in graph.degree_distribution(df).collect()}
    assert out == {4: 1, 2: 2, 1: 4}
    # directed: out-degree only (src side)
    out_d = {
        r.degree: r.n_vertices
        for r in graph.degree_distribution(df, directed=True).collect()
    }
    assert out_d == {4: 1, 1: 2}  # 0 has 4 out-edges; 4 and 5 have 1


def test_degree_distribution_counts_vertices_once(spark):
    df = from_rows(
        spark, [(1, 2), (1, 3), (2, 3)], "src bigint, dst bigint"
    )
    out = {r.degree: r.n_vertices for r in graph.degree_distribution(df).collect()}
    # triangle: every vertex has degree 2
    assert out == {2: 3}


def test_pagerank_fixed_scales_match_numpy(spark, star_plus_chain):
    """The oracle-checked tier's scales (contrib round-9, out round-6,
    3 iterations) still track the numpy reference within rounding and
    conserve mass — coarser rounding changes precision, not the
    power-method mechanics."""
    df, edges, n = star_plus_chain
    out = {
        r.vertex: r.rank
        for r in graph.pagerank(
            df, iterations=3, contrib_scale=9, out_scale=6
        ).collect()
    }
    ref = _numpy_pagerank(edges, n, iterations=3)
    assert set(out) == set(range(n))
    for v in range(n):
        assert abs(out[v] - ref[v]) < 1e-5, (v, out[v], ref[v])
    assert abs(sum(out.values()) - 1.0) < 1e-4


def _numpy_hits(edges, iterations):
    import numpy as np

    srcs = sorted({s for s, _ in edges})
    dsts = sorted({d for _, d in edges})
    si = {v: i for i, v in enumerate(srcs)}
    di = {v: i for i, v in enumerate(dsts)}
    h = np.full(len(srcs), 1.0 / len(srcs))
    a = None
    for _ in range(iterations):
        a = np.zeros(len(dsts))
        for s, d in edges:
            a[di[d]] += round(h[si[s]], 9)
        a = a / a.sum()
        h = np.zeros(len(srcs))
        for s, d in edges:
            h[si[s]] += round(a[di[d]], 9)
        h = h / h.sum()
    return ({v: a[di[v]] for v in dsts}, {v: h[si[v]] for v in srcs})


def test_hits_fixed_matches_numpy(spark):
    # bipartite: supplier 0 feeds parts 100,101,102; supplier 1 feeds
    # 100; supplier 2 feeds 101,103
    edges = [(0, 100), (0, 101), (0, 102), (1, 100), (2, 101), (2, 103)]
    df = from_rows(spark, edges, "src bigint, dst bigint")
    out = graph.hits_fixed(df, iterations=3)
    got_a = {r.vertex: r.score for r in out.collect() if r.side == "authority"}
    got_h = {r.vertex: r.score for r in out.collect() if r.side == "hub"}
    ref_a, ref_h = _numpy_hits(edges, 3)
    for v, s in ref_a.items():
        assert abs(got_a[v] - s) < 1e-6, (v, got_a[v], s)
    for v, s in ref_h.items():
        assert abs(got_h[v] - s) < 1e-6, (v, got_h[v], s)
    # the 3-part supplier is the best hub; parts fed by it + another
    # supplier are the best authorities
    assert got_h[0] == max(got_h.values())
    # L1 mass is 1 up to the 6-dp output rounding (half an ulp per row)
    assert abs(sum(got_a.values()) - 1.0) < 5e-6
    assert abs(sum(got_h.values()) - 1.0) < 5e-6


def test_triangle_stats_hand_graph(spark):
    # K4 on {0,1,2,3} plus a pendant 3-4: C(4,3)=4 triangles,
    # wedges = sum C(deg,2) = 3*C(3,2) + C(4,2) + C(1,2) = 9+6+0 = 15
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4)]
    df = from_rows(spark, edges, "src bigint, dst bigint")
    r = graph.triangle_stats(df).collect()[0]
    assert (r.n_vertices, r.n_edges, r.n_wedges, r.n_triangles) == (5, 7, 15, 4)
    assert abs(r.clustering_coeff - 12 / 15) < 1e-9
    # duplicate/reversed input edges collapse before counting
    df2 = from_rows(spark, edges + [(1, 0), (2, 0)], "src bigint, dst bigint")
    assert graph.triangle_stats(df2).collect()[0].n_triangles == 4


def test_assortativity_star_is_negative(spark):
    # star: hub degree 5 linked to five degree-1 leaves -> r = -1 is
    # undefined (zero variance on one side after symmetrization gives
    # negative correlation); classic result: star graphs are maximally
    # disassortative
    star = [(0, i) for i in range(1, 6)]
    df = from_rows(spark, star, "src bigint, dst bigint")
    r = graph.degree_assortativity(df).collect()[0]
    assert r.n_edges == 5 and r.assortativity < -0.99
    # complete graph: all degrees equal -> zero variance, guarded
    # denominator keeps it finite; correlation is ~0
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    r2 = graph.degree_assortativity(
        from_rows(spark, k4, "src bigint, dst bigint")).collect()[0]
    assert abs(r2.assortativity) < 1e-6


def test_link_prediction_hand_computed(spark):
    import math

    # path 1-2-3 plus star hub 10 over {4,5,6}
    edges = [(1, 2), (2, 3), (10, 4), (10, 5), (10, 6)]
    out = {(r.part_a, r.part_b): r for r in graph.link_prediction(
        from_rows(spark, edges, "src bigint, dst bigint")).collect()}
    r13 = out[(1, 3)]  # common neighbor 2 (deg 2)
    assert r13.common_neighbors == 1 and r13.jaccard == 1.0
    assert r13.adamic_adar == round(round(1 / math.log(2), 9), 6)
    assert out[(4, 5)].adamic_adar == round(round(1 / math.log(3), 9), 6)
    assert len(out) == 4  # (1,3) + the 3 star pairs


def test_link_prediction_excludes_edges_and_caps(spark):
    # triangle: every wedge pair is already an edge -> no predictions
    tri = [(1, 2), (2, 3), (1, 3)]
    assert graph.link_prediction(
        from_rows(spark, tri, "src bigint, dst bigint")).count() == 0
    # hub cap drops the only center -> empty (guard semantics)
    star = [(10, 1), (10, 2), (10, 3)]
    assert graph.link_prediction(
        from_rows(spark, star, "src bigint, dst bigint"),
        max_center_degree=2).count() == 0


def test_kcore_fixed_peels_periphery(spark):
    # K5 core (every deg 4) + pendant chain: k=3 peels the chain in
    # one round, then the core is stable
    edges = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    edges += [(4, 10), (10, 11)]  # pendant path off the clique
    out = {r.round: r for r in graph.kcore_fixed(
        from_rows(spark, edges, "src bigint, dst bigint"),
        k=3, rounds=3).collect()}
    # round 1: only vertex 4 gains degree from the pendant; 10,11 drop
    assert out[1].n_vertices == 5 and out[1].n_edges == 10
    assert out[2].n_vertices == 5 and out[3].n_edges == 10
    # k above the max degree empties the graph immediately
    empty = graph.kcore_fixed(
        from_rows(spark, edges, "src bigint, dst bigint"),
        k=100, rounds=2).collect()
    assert all(r.n_vertices == 0 and r.n_edges == 0 for r in empty)


def test_lpa_fixed_two_triangles(spark):
    """Two disjoint triangles: round 1 is min-neighbor-id, round 2
    converges each triangle onto its minimum id — census must read
    exactly two 3-member communities labeled 1 and 10."""
    edges = from_rows(
        spark,
        [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12)],
        schema="src bigint, dst bigint",
    )
    got = {
        (r.community, r.n_members)
        for r in graph.lpa_fixed(edges, iters=2).collect()
    }
    assert got == {(1, 3), (10, 3)}


def test_lpa_fixed_deterministic_tie_break(spark):
    """A path 1-2-3: node 2 sees labels {1, 3} tied at one vote each
    in every round — the min-label rule must pick 1, both rounds."""
    edges = from_rows(spark, [(1, 2), (2, 3)], schema="src bigint, dst bigint")
    out = {r.community: r.n_members for r in
           graph.lpa_fixed(edges, iters=2).collect()}
    # r1: 1->2, 2->1, 3->2 ; r2: 1 adopts 2's label 1... final census
    # is deterministic; re-run must agree exactly
    again = {r.community: r.n_members for r in
             graph.lpa_fixed(edges, iters=2).collect()}
    assert out == again and sum(out.values()) == 3


def test_pagerank_broadcast_mode_identical(spark):
    """r10: broadcast_ranks only changes the JOIN STRATEGY (broadcast
    hash vs shuffle), never the arithmetic — ranks must be
    bit-identical in both modes on an asymmetric multi-component
    graph."""
    edges = from_rows(
        spark,
        [(1, 2), (2, 3), (3, 4), (1, 4), (10, 11), (11, 12), (5, 1)],
        schema="src bigint, dst bigint",
    )
    shuf = {
        (r.vertex, r.rank)
        for r in graph.pagerank(
            edges, iterations=4, broadcast_ranks=False
        ).collect()
    }
    bcast = {
        (r.vertex, r.rank)
        for r in graph.pagerank(
            edges, iterations=4, broadcast_ranks=True
        ).collect()
    }
    assert shuf == bcast and len(shuf) == 8
