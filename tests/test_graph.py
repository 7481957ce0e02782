"""Graph pipeline tests: PageRank vs NumPy power iteration;
ConnectedComponents vs union-find."""

from __future__ import annotations

import numpy as np
import pytest

from flink_tornadovm_artifact_spark.functions.graph import (
    connected_components,
    pagerank,
)


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, "src long, dst long")


def test_pagerank_matches_numpy(spark):
    """Iteration counts 1-3 also run the odd remainder of the
    two-supersteps-per-checkpoint loop."""
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0)]
    df = _edges_df(spark, edges)
    n = 4
    M = np.zeros((n, n))
    outdeg = {}
    for s, d in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    for s, d in edges:
        M[d, s] = 1.0 / outdeg[s]
    for iterations in (15, 1, 2, 3):
        got = {
            r.vertex: r.rank
            for r in pagerank(df, iterations=iterations).collect()
        }
        r = np.full(n, 1.0 / n)
        for _ in range(iterations):
            r = (1 - 0.85) / n + 0.85 * (M @ r)
        for v in range(n):
            assert abs(got[v] - r[v]) < 1e-9, (v, got[v], r[v])


def test_connected_components(spark):
    # two components: {0,1,2,3} and {10,11}; singleton via self edge {20}
    edges = [(0, 1), (1, 2), (2, 3), (10, 11), (20, 20)]
    df = _edges_df(spark, edges)
    got = {r.vertex: r.component for r in connected_components(df).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 20: 20}


def test_sssp_hand_computed(spark):
    """Gelly SingleSourceShortestPaths semantics: min-distance delta
    iteration, only reachable vertices returned. Expected distances
    worked out by hand (Dijkstra on paper), including a vertex whose
    first-found distance is later improved via a longer-hop cheaper
    path — the min-merge/workset update must handle the revision."""
    from flink_tornadovm_artifact_spark.functions.graph import sssp

    edges = [
        # direct expensive edge 0->3 (10) vs cheap 3-hop path (1+1+1)
        (0, 3, 10),
        (0, 1, 1),
        (1, 2, 1),
        (2, 3, 1),
        (3, 4, 2),
        # unreachable island
        (7, 8, 1),
    ]
    df = spark.createDataFrame(edges, "src long, dst long, weight long")
    got = {r.vertex: r.distance for r in sssp(df, source=0).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 5}


def test_sssp_converges_before_iteration_cap(spark):
    """The delta iteration must reach the true fixpoint (workset empties)
    well inside sssp_pipeline's max_iterations on the pipeline graph —
    otherwise the oracle's unrolled Bellman-Ford depth and the Spark
    result could silently diverge at another SF."""
    from flink_tornadovm_artifact_spark.queries.procedural import (
        _sssp_edges,
        _SSSP_SOURCE,
    )
    from flink_tornadovm_artifact_spark.functions.graph import sssp

    from .conftest import SF_SMOKE

    e = _sssp_edges(spark, SF_SMOKE)
    full = sssp(e, source=_SSSP_SOURCE, max_iterations=30)
    capped = sssp(e, source=_SSSP_SOURCE, max_iterations=18)
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, capped.collect())
    )


def test_triangles_hand_computed(spark):
    """K4 on {0,1,2,3} has exactly 4 triangles; vertex 9 hangs off one
    corner and closes nothing; a duplicate and a reversed edge must not
    double-count (simple-graph canonicalization)."""
    from flink_tornadovm_artifact_spark.functions.graph import triangles

    edges = [
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
        (3, 9),
        (1, 0),  # reverse duplicate
        (0, 1),  # exact duplicate
    ]
    got = sorted(map(tuple, triangles(_edges_df(spark, edges)).collect()))
    assert got == [(0, 1, 2), (0, 1, 3), (0, 2, 3), (1, 2, 3)]


def test_label_propagation_star_adopts_hub_ties_to_highest(spark):
    """Star 5—{1,2,3}, undirected (both directions). Superstep 1: leaves
    hear only label 5 at freq 1 vs own at freq 1 — ties break to the
    HIGHEST label (LabelPropagation.java UpdateVertexLabel), so leaves
    1,2,3 adopt 5 and the hub (hearing 1,2,3, all freq 1, all below own
    5) keeps 5. Superstep 2 is then stable: everyone already agrees."""
    from flink_tornadovm_artifact_spark.functions.graph import (
        label_propagation,
    )

    und = [(5, 1), (1, 5), (5, 2), (2, 5), (5, 3), (3, 5)]
    for iterations in (2, 1, 3):
        got = {
            r.vertex: r.label
            for r in label_propagation(
                _edges_df(spark, und), iterations=iterations
            ).collect()
        }
        assert got == {1: 5, 2: 5, 3: 5, 5: 5}


def test_label_propagation_all_freq_one_takes_highest_label(spark):
    """Vertex 0 hears labels 7, 17 and 9 once each; with every candidate
    (incl. its own label 0) at frequency 1, the reference's tie rule
    picks the highest label value: 17."""
    from flink_tornadovm_artifact_spark.functions.graph import (
        label_propagation,
    )

    edges = [(7, 0), (17, 0), (9, 0)]
    for iterations in (1, 2, 3):
        got = {
            r.vertex: r.label
            for r in label_propagation(
                _edges_df(spark, edges), iterations=iterations
            ).collect()
        }
        assert got[0] == 17


def test_hits_bipartite_hand_computed(spark):
    """One hub (0) pointing at two sinks (10, 11) plus a weaker hub (1)
    pointing at 10 only: authority(10) > authority(11), hub(0) > hub(1),
    and both score vectors are unit-L2 after each iteration."""
    from flink_tornadovm_artifact_spark.functions.graph import hits

    edges = [(0, 10), (0, 11), (1, 10)]
    rows = hits(_edges_df(spark, edges), iterations=3).collect()
    hub = {r.vertex: r.hub for r in rows}
    auth = {r.vertex: r.auth for r in rows}
    assert hub[0] > hub[1] > 0
    assert auth[10] > auth[11] > 0
    assert hub[10] == hub[11] == 0  # sinks are not hubs
    assert auth[0] == auth[1] == 0  # sources are not authorities
    assert abs(sum(h * h for h in hub.values()) - 1.0) < 1e-9
    assert abs(sum(a * a for a in auth.values()) - 1.0) < 1e-9


def test_hits_rejects_fewer_than_one_iteration(spark):
    from flink_tornadovm_artifact_spark.functions.graph import hits

    df = _edges_df(spark, [(0, 1)])
    for iterations in (0, -1):
        with pytest.raises(ValueError, match="iterations"):
            hits(df, iterations=iterations)


def test_jaccard_and_adamic_adar_hand_computed(spark):
    """Path 1-2, 1-3, 2-3, 2-4: N(1)={2,3}, N(2)={1,3,4}, N(3)={1,2},
    N(4)={2}. Pair (1,3): shared={2}, union={1,2,3}\\... = N(1)∪N(3) =
    {1,2,3} minus nothing → |{2}|/|{1,2,3}| = 1/3... computed as
    shared/(du+dv-shared) = 1/(2+2-1) = 1/3. Adamic-Adar (1,3) =
    1/ln(deg(2)) = 1/ln(3)."""
    import math

    from flink_tornadovm_artifact_spark.functions.graph import (
        adamic_adar,
        jaccard_index,
    )

    edges = [(1, 2), (1, 3), (2, 3), (2, 4)]
    jac = {
        (r.u, r.v): (r.shared, r.jaccard)
        for r in jaccard_index(_edges_df(spark, edges)).collect()
    }
    assert jac[(1, 3)] == (1, 1 / 3)
    # (1,2): shared={3}, du=2, dv=3 → 1/4; (3,4): shared={2} → 1/(2+1-1)
    assert jac[(1, 2)] == (1, 1 / 4)
    assert jac[(3, 4)] == (1, 1 / 2)
    aa = {
        (r.u, r.v): r.aa
        for r in adamic_adar(_edges_df(spark, edges)).collect()
    }
    assert abs(aa[(1, 3)] - 1 / math.log(3)) < 1e-12
    assert abs(aa[(1, 2)] - 1 / math.log(2)) < 1e-12


def test_community_detection_tie_breaks_to_lowest_label(spark):
    """Triangle {1,2,3} with pendant 9-3. Superstep 1: vertex 1 hears
    labels 2 and 3 with equal summed score — the reference's ascending
    TreeMap scan with strict `>` keeps the LOWEST (2). Superstep 2 then
    converges everything to label 1; had the tie broken high (label 3),
    vertex 3 would finish labeled 3 (sum 3:1.0 beats 1:0.5) — so the
    final state discriminates the tie direction."""
    from flink_tornadovm_artifact_spark.functions.graph import (
        community_detection,
    )

    edges = [(1, 2), (1, 3), (2, 3), (3, 9)]
    got = {
        r.vertex: r.label
        for r in community_detection(
            _edges_df(spark, edges), iterations=2
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 9: 1}


def test_metrics_and_census_hand_computed(spark):
    """K4 on {0,1,2,3} plus pendant 9-3: degrees (3,3,3,4,1), 7 edges,
    4 triangles. Hand-checked: triplets = 3+3+3+6+0 = 15; GCC = 12/15;
    LCC(3) = 3/C(4,2) = 0.5; census over C(5,3)=10 triples — 4
    triangles, 21-class = 15-12 = 3, 12-class = 7·3 − 2·3 − 3·4 = 3,
    empty = 0."""
    from flink_tornadovm_artifact_spark.functions.graph import (
        clustering_coefficients,
        global_clustering_coefficient,
        triadic_census,
        vertex_metrics,
    )

    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 9)]
    df = _edges_df(spark, edges)

    vm = vertex_metrics(df).collect()[0]
    assert (vm.vertex_count, vm.edge_count, vm.triplet_count) == (5, 7, 15)
    assert (vm.maximum_degree, vm.maximum_triplets) == (4, 6)

    gcc = global_clustering_coefficient(df).collect()[0]
    assert (gcc.triplet_count, gcc.triangle_count) == (15, 4)
    assert abs(gcc.gcc - 12 / 15) < 1e-12

    lcc = {r.vertex: r.lcc for r in clustering_coefficients(df).collect()}
    assert lcc[9] == 0.0          # degree-1 vertex scores 0
    assert abs(lcc[3] - 0.5) < 1e-12
    assert lcc[0] == 1.0          # all of 0's neighbor pairs are linked

    census = triadic_census(df).collect()[0]
    assert (
        census.triads_03,
        census.triads_12,
        census.triads_21,
        census.triads_30,
    ) == (0, 3, 3, 4)


def test_summarization_hand_computed(spark):
    """Vertices {1,2,3,4} grouped by parity: groups {1,3} (rep 1) and
    {2,4} (rep 2). Directed edges 1→2, 3→2, 3→4, 1→3 condense to
    odd→even ×3 and odd→odd ×1."""
    from pyspark.sql import functions as F

    from flink_tornadovm_artifact_spark.functions.graph import summarize

    edges = _edges_df(spark, [(1, 2), (3, 2), (3, 4), (1, 3)])
    got = {
        (r.src_group, r.dst_group): (r.src_rep, r.dst_rep, r.edge_count)
        for r in summarize(edges, vertex_label=F.col("vertex") % 2).collect()
    }
    assert got == {(1, 0): (1, 2, 3), (1, 1): (1, 1, 1)}


def test_vertex_metrics_directed_hand_computed(spark):
    """Edges 1→2, 2→1 (one bidirectional pair), 1→3, 3→4: degrees
    (1:{2,3}, 2:{1}, 3:{1,4}, 4:{3}); unidirectional pairs = 2;
    triplets = 1+0+1+0 = 2; max out = 2 (vertex 1), max in = 1."""
    from flink_tornadovm_artifact_spark.functions.graph import (
        vertex_metrics_directed,
    )

    df = _edges_df(spark, [(1, 2), (2, 1), (1, 3), (3, 4)])
    r = vertex_metrics_directed(df).collect()[0]
    assert (
        r.vertex_count,
        r.unidirectional_edge_count,
        r.bidirectional_edge_count,
        r.triplet_count,
    ) == (4, 2, 1, 2)
    assert (r.maximum_degree, r.maximum_out_degree, r.maximum_in_degree) == (
        2, 2, 1,
    )


def test_triangle_listing_directed_bitmask(spark):
    """EdgeOrder encoding on the sorted pairs: triangle {1,2,3} with
    1→2 (forward=0b10), 3→1 (reverse on pair (1,3)=0b01), and BOTH
    2→3 and 3→2 (mutual=0b11) → mask 0b10_01_11 = 0x27 = 39."""
    from flink_tornadovm_artifact_spark.functions.graph import (
        triangle_listing_directed,
    )

    df = _edges_df(spark, [(1, 2), (3, 1), (2, 3), (3, 2)])
    rows = triangle_listing_directed(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.v1, r.v2, r.v3, r.bitmask) == (1, 2, 3, 0b100111)


def test_directed_lcc_hand_computed(spark):
    """Same mixed-direction triangle as the bitmask test: vertex 1's
    opposite pair (2,3) is mutual → 2 directed edges among its 2
    neighbors → lcc 2/(2·1) = 1.0; vertices 2 and 3 see one directed
    edge in their opposite pairs → 0.5 each."""
    from flink_tornadovm_artifact_spark.functions.graph import (
        local_clustering_coefficient_directed,
    )

    df = _edges_df(spark, [(1, 2), (3, 1), (2, 3), (3, 2)])
    got = {
        r.vertex: (r.tri_count, r.lcc)
        for r in local_clustering_coefficient_directed(df).collect()
    }
    assert got == {1: (2, 1.0), 2: (1, 0.5), 3: (1, 0.5)}


def test_global_and_average_cc_directed_hand_computed(spark):
    """Mixed-direction triangle 1→2, 3→1, 2↔3: every vertex has the
    two others as neighbors (deg 2 → one triplet each, 3 total);
    triangle count = 3·1; gcc = 1.0. Directed lcc = (1.0, 0.5, 0.5)
    → sum 2.0, acc = 2/3."""
    from flink_tornadovm_artifact_spark.functions.graph import (
        average_clustering_coefficient_directed,
        global_clustering_coefficient_directed,
    )

    df = _edges_df(spark, [(1, 2), (3, 1), (2, 3), (3, 2)])
    g = global_clustering_coefficient_directed(df).collect()[0]
    assert (g.triplet_count, g.triangle_count, g.gcc) == (3, 3, 1.0)
    a = average_clustering_coefficient_directed(df).collect()[0]
    assert a.vertex_count == 3
    assert abs(a.sum_lcc - 2.0) < 1e-12
    assert abs(a.acc - 2.0 / 3.0) < 1e-12


def test_edge_metrics_directed_hand_computed(spark):
    """Same triangle: all degrees 2, so low-order is decided by id —
    vertex 1 is lower than both neighbors (l=2), vertex 2 lower than 3
    (l=1), vertex 3 lowest-order nowhere (l=0). Triangle triplets
    C(l,2) = (1,0,0) → 1; rectangle triplets C(l,2)+l·(d−l) =
    (1,1,0) → 2."""
    from flink_tornadovm_artifact_spark.functions.graph import (
        edge_metrics_directed,
    )

    df = _edges_df(spark, [(1, 2), (3, 1), (2, 3), (3, 2)])
    r = edge_metrics_directed(df).collect()[0]
    assert (
        r.triangle_triplet_count,
        r.rectangle_triplet_count,
        r.maximum_triangle_triplets,
        r.maximum_rectangle_triplets,
    ) == (1, 2, 1, 1)


def test_triadic_census_directed_vs_brute_force(spark):
    """Differential against a brute-force classifier that looks up
    EVERY C(n,3) triple's 6-bit mask in the Batagelj-Mrvar table —
    the implementation derives the 9 non-triangle classes from degree
    arithmetic instead, so agreement is a genuine cross-check. Graph
    mixes mutual pairs, chains, and a triangle."""
    from itertools import combinations

    from flink_tornadovm_artifact_spark.functions.graph import (
        _TRIAD_TYPE_TABLE,
        triadic_census_directed,
    )

    edges = [(1, 2), (2, 1), (1, 3), (2, 3), (3, 4), (4, 5), (5, 3), (5, 6), (6, 1)]
    eset = set(edges)
    verts = sorted({v for e in edges for v in e})
    names = [
        "triads_003", "triads_012", "triads_102", "triads_021d",
        "triads_021u", "triads_021c", "triads_111d", "triads_111u",
        "triads_030t", "triads_030c", "triads_201", "triads_120d",
        "triads_120u", "triads_120c", "triads_210", "triads_300",
    ]
    expected = dict.fromkeys(names, 0)
    for a, b, c in combinations(verts, 3):
        bits = lambda x, y: (2 if (x, y) in eset else 0) | (
            1 if (y, x) in eset else 0
        )
        mask = (bits(a, b) << 4) | (bits(a, c) << 2) | bits(b, c)
        expected[names[_TRIAD_TYPE_TABLE[mask] - 1]] += 1

    got = triadic_census_directed(_edges_df(spark, edges)).collect()[0].asDict()
    assert got == expected
    assert sum(got.values()) == len(verts) * (len(verts) - 1) * (len(verts) - 2) // 6


def test_undirected_base_shared_and_unpersist(spark):
    """One UndirectedGraphBase passed to several analytics must (a)
    yield the same answers as the standalone calls, (b) register its
    three frames in the cache, and (c) leave nothing cached after
    unpersist() — the deterministic-cleanup contract the base exists
    for."""
    from flink_tornadovm_artifact_spark.functions.graph import (
        edge_metrics,
        triadic_census,
        triangles,
        undirected_graph_base,
        vertex_metrics,
    )

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (2, 1)]  # dup edge
    df = _edges_df(spark, edges)
    base = undirected_graph_base(df)
    try:
        tri_b = sorted(map(tuple, triangles(base=base).collect()))
        vm_b = vertex_metrics(base=base).collect()[0]
        em_b = edge_metrics(base=base).collect()[0]
        census_b = triadic_census(base=base).collect()[0]

        tri_s = sorted(map(tuple, triangles(df).collect()))
        vm_s = vertex_metrics(df).collect()[0]
        em_s = edge_metrics(df).collect()[0]
        census_s = triadic_census(df).collect()[0]
        assert tri_b == tri_s == [(1, 2, 3)]
        assert vm_b.asDict() == vm_s.asDict()
        assert em_b.asDict() == em_s.asDict()
        assert census_b.asDict() == census_s.asDict()

        jvm_sc = spark.sparkContext._jsc.sc()
        assert not jvm_sc.getPersistentRDDs().isEmpty()
    finally:
        base.unpersist(blocking=True)
    # standalone calls registered their own (plan-deduped) entries;
    # after unpersisting the base the shared frames must be gone.
    for frame in (base.und, base.degrees, base.oriented):
        assert frame.storageLevel.useMemory is False  # reset to NONE


def test_k_core_hand_computed(spark):
    """Peel correctness on a graph with a known 3-core: K4 {1,2,3,4}
    plus a pendant path 4-5-6 — the path peels away in two rounds
    (vertex 6 first, then 5), leaving exactly the clique."""
    from flink_tornadovm_artifact_spark.functions.graph import k_core

    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4
        (4, 5), (5, 6),                                   # pendant path
    ]
    got = sorted(r.vertex for r in k_core(_edges_df(spark, edges), k=3).collect())
    assert got == [1, 2, 3, 4]
    # k above the max degree: empty core, no crash
    assert k_core(_edges_df(spark, edges), k=10).count() == 0


def test_k_core_leaves_no_cache_entries(spark):
    """Round-7 guard: the edges-path peel must register NOTHING with the
    CacheManager. Round 6 built a full UndirectedGraphBase per call —
    three persisted frames of which the peel read one, leaked for the
    session lifetime and substituted by the CacheManager into every
    later query's audited plan (the PLAN_AUDIT pollution)."""
    from flink_tornadovm_artifact_spark.functions.graph import k_core

    spark.catalog.clearCache()
    edges = [(1, 2), (2, 3), (1, 3), (3, 4)]
    assert k_core(_edges_df(spark, edges), k=2).count() == 3
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_kcore_oracle_unroll_is_fixpoint():
    """The kcore_social oracle unrolls the peel a FIXED number of
    rounds; assert one more round changes nothing at both test SFs, so
    the unroll provably reaches the fixpoint the Spark loop converges
    to (if data ever gets deeper peels, this fails before the oracle
    silently diverges). DuckDB-only — no spark fixture — and honors
    the SF-dir env overrides like every other test."""
    from flink_tornadovm_artifact_spark.queries.gelly import (
        _KCORE_UNROLL,
        _kcore_oracle_sql,
    )

    from .conftest import SF_ORACLE, SF_SMOKE
    from .oracle import duckdb_con

    for sf_dir in (SF_SMOKE, SF_ORACLE):
        con = duckdb_con(sf_dir)
        at = sorted(con.sql(_kcore_oracle_sql(rounds=_KCORE_UNROLL)).fetchall())
        plus = sorted(
            con.sql(_kcore_oracle_sql(rounds=_KCORE_UNROLL + 1)).fetchall()
        )
        assert at == plus, f"{sf_dir}: unroll {_KCORE_UNROLL} not a fixpoint"
        con.close()


def test_wedge_pair_salting_is_exact_under_hub_skew(spark):
    """The degree-capped salted wedge join (graph._wedge_pairs — the
    Spark analog of the reference's GenerateGroupSpans skew split,
    AdamicAdar.java:77,146) must produce EXACTLY the plain self-join's
    answers on a skew-adversarial graph: one celebrity hub whose degree
    far exceeds the cap, plus a random background graph, with the cap
    forced low (4) so the salted path actually executes and hub spokes
    span many buckets. Both jaccard_index and adamic_adar are compared
    field-by-field against cap=huge (all-light = the historical plain
    plan)."""
    import random

    from flink_tornadovm_artifact_spark.functions.graph import (
        _shared_neighbors,
        adamic_adar,
        undirected_graph_base,
    )

    rng = random.Random(11)
    hub = 0
    edges = [(hub, s) for s in range(1, 41)]  # hub degree 40 >> cap 4
    edges += [
        (rng.randrange(1, 60), rng.randrange(1, 60)) for _ in range(120)
    ]
    df = _edges_df(spark, [e for e in edges if e[0] != e[1]])

    base = undirected_graph_base(df)
    plain = {
        (r.u, r.v): r.shared
        for r in _shared_neighbors(
            und=base.und, degrees=base.degrees, cap=1 << 30
        ).collect()
    }
    salted = {
        (r.u, r.v): r.shared
        for r in _shared_neighbors(
            und=base.und, degrees=base.degrees, cap=4
        ).collect()
    }
    assert salted == plain
    assert plain, "fixture produced no shared-neighbor pairs"

    aa_plain = {
        (r.u, r.v): (r.shared, round(r.aa, 12))
        for r in adamic_adar(base=base, cap=1 << 30).collect()
    }
    base2 = undirected_graph_base(df)
    aa_salted = {
        (r.u, r.v): (r.shared, round(r.aa, 12))
        for r in adamic_adar(base=base2, cap=4).collect()
    }
    assert aa_salted == aa_plain
    base.unpersist()
    base2.unpersist()


def test_adamic_adar_minimum_ratio_matches_reference_semantics(spark):
    """min_ratio mirrors AdamicAdar.java:108/:355-373: keep pairs with
    aa >= ratio * mean, mean = Σ_v C(d_v,2)/ln(d_v) / Σ_v C(d_v,2)
    over the degree table (ComputeScoreFromVertex + sum/andSum), never
    a second pass over the pair set. Checked against a hand-derived
    mean on the 4-edge fixture."""
    import math

    from flink_tornadovm_artifact_spark.functions.graph import adamic_adar

    edges = [(1, 2), (1, 3), (2, 3), (2, 4)]
    df = _edges_df(spark, edges)
    # degrees: 1->2, 2->3, 3->2, 4->1; pairs C(2,2)=1,C(3,2)=3,C(2,2)=1
    mean = (1 / math.log(2) + 3 / math.log(3) + 1 / math.log(2)) / 5
    full = {(r.u, r.v): r.aa for r in adamic_adar(df).collect()}
    kept = {
        (r.u, r.v): r.aa for r in adamic_adar(df, min_ratio=1.0).collect()
    }
    expect = {p: s for p, s in full.items() if s >= mean}
    assert kept == expect
    assert kept and kept != full, "ratio=1.0 should split this fixture"
