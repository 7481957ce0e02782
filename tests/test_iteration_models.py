"""Generic vertex-centric iteration models (gsa/, spargel/, pregel/)
and the asm/ building blocks: differential tests against the direct
library algorithms plus hand-computed fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_tornadovm_artifact_spark.functions.asm import (
    edge_degree_pair,
    edge_degrees_pair,
    maximum_degree_filter,
    simplify_directed,
    simplify_undirected,
    translate_graph_ids,
    translate_vertex_values,
    vertex_degree,
    vertex_degrees,
    vertex_in_degree,
    vertex_out_degree,
)
from flink_tornadovm_artifact_spark.functions.gelly_graph import Graph
from flink_tornadovm_artifact_spark.functions.iteration_models import (
    gather_sum_apply_iteration,
    scatter_gather_iteration,
    vertex_centric_iteration,
)

#: weighted directed diamond + a disconnected pair
_WEIGHTED = [
    (0, 1, 1),
    (0, 2, 4),
    (1, 2, 1),
    (2, 3, 2),
    (1, 3, 9),
    (5, 6, 1),
]


def _edges(spark, rows, schema="src long, dst long, value long"):
    return spark.createDataFrame(rows, schema)


def test_gsa_sssp_matches_library(spark):
    """SSSP expressed through the generic GSA operator reproduces the
    library's delta-iteration result (GSASingleSourceShortestPaths ≡
    SingleSourceShortestPaths in the reference too)."""
    from flink_tornadovm_artifact_spark.functions.graph import sssp

    e = _edges(spark, _WEIGHTED)
    big = 1 << 60
    vertices = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .withColumn(
            "value",
            F.when(F.col("id") == 0, F.lit(0)).otherwise(F.lit(big)),
        )
    )
    got = gather_sum_apply_iteration(
        e,
        vertices,
        gather=lambda src_val, w: src_val + w,
        sum_agg=F.min,
        apply_fn=lambda old, summed: F.least(old, summed),
        max_iterations=20,
    )
    gsa = {
        r.id: r.value for r in got.filter(F.col("value") < big).collect()
    }
    lib = {
        r.vertex: r.distance
        for r in sssp(
            e.withColumnRenamed("value", "weight"), source=0
        ).collect()
    }
    assert gsa == lib == {0: 0, 1: 1, 2: 2, 3: 4}


def test_scatter_gather_cc_matches_library(spark):
    from flink_tornadovm_artifact_spark.functions.graph import (
        connected_components,
    )

    e = _edges(spark, _WEIGHTED)
    vertices = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .withColumn("value", F.col("id"))
    )
    got = scatter_gather_iteration(
        e,
        vertices,
        scatter=lambda v, _ev: v,
        gather_agg=F.min,
        update=lambda old, combined: F.least(old, combined),
        max_iterations=20,
        direction="all",
    )
    sg = {r.id: r.value for r in got.collect()}
    lib = {
        r.vertex: r.component for r in connected_components(e).collect()
    }
    assert sg == lib
    assert sg[3] == 0 and sg[6] == 5


def test_scatter_gather_direction_matters(spark):
    """direction='out' only pushes values downstream: component ids
    do NOT flow back up a directed chain."""
    e = _edges(spark, [(0, 1, None), (1, 2, None)])
    vertices = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 2)], "id long, value long"
    )
    got = scatter_gather_iteration(
        e,
        vertices,
        scatter=lambda v, _ev: v,
        gather_agg=F.min,
        update=lambda old, c: F.least(old, c),
        max_iterations=10,
        direction="out",
    )
    assert {r.id: r.value for r in got.collect()} == {0: 0, 1: 0, 2: 0}
    with pytest.raises(ValueError, match="direction"):
        scatter_gather_iteration(
            e, vertices, lambda v, _: v, F.min,
            lambda o, c: c, 1, direction="sideways",
        )


def test_pregel_max_value_propagation(spark):
    """The classic Pregel example: every vertex adopts the maximum
    value in its component; halts when no messages flow."""
    e = _edges(spark, [(0, 1, None), (1, 0, None), (1, 2, None), (2, 1, None)])
    vertices = spark.createDataFrame(
        [(0, 3), (1, 6), (2, 2)], "id long, value long"
    )
    edges = e.select("src", "dst").persist()

    def compute(_superstep, verts, messages):
        combined = messages.groupBy("id").agg(F.max("message").alias("m"))
        joined = verts.join(combined, "id", "left")
        updated = joined.select(
            "id",
            F.greatest(F.col("value"), F.coalesce("m", F.col("value"))).alias(
                "value"
            ),
            (F.col("m") > F.col("value")).alias("_improved"),
        )
        new_verts = updated.select("id", "value")
        out = (
            updated.filter(F.col("_improved"))
            .join(edges, updated.id == edges.src)
            .select(F.col("dst").alias("id"), F.col("value").alias("message"))
        )
        return new_verts, out

    init = vertices.join(edges, vertices.id == edges.src).select(
        F.col("dst").alias("id"), F.col("value").alias("message")
    )
    got = vertex_centric_iteration(vertices, init, compute, 10)
    assert {r.id: r.value for r in got.collect()} == {0: 6, 1: 6, 2: 6}
    edges.unpersist()


# -- asm/ ---------------------------------------------------------------
def test_simplify(spark):
    e = _edges(
        spark,
        [(1, 1, None), (1, 2, None), (1, 2, None), (2, 1, None), (2, 3, None)],
    )
    assert sorted(
        (r.src, r.dst) for r in simplify_directed(e).collect()
    ) == [(1, 2), (2, 1), (2, 3)]
    assert sorted(
        (r.src, r.dst) for r in simplify_undirected(e).collect()
    ) == [(1, 2), (2, 1), (2, 3), (3, 2)]
    # clip_and_flip drops the one-directional (2,3): no (3,2) input
    assert sorted(
        (r.src, r.dst)
        for r in simplify_undirected(e, clip_and_flip=True).collect()
    ) == [(1, 2), (2, 1)]


def test_vertex_degrees_directed(spark):
    """Mutual pair 1<->2 is ONE neighbor for degree, two directed
    edges for out/in (VertexDegrees.java triple)."""
    e = _edges(spark, [(1, 2, None), (2, 1, None), (1, 3, None)])
    got = {
        r.id: (r.degree, r.out_degree, r.in_degree)
        for r in vertex_degrees(e).collect()
    }
    assert got == {1: (2, 2, 1), 2: (1, 1, 1), 3: (1, 0, 1)}
    out = {r.id: r.out_degree for r in vertex_out_degree(e).collect()}
    ind = {r.id: r.in_degree for r in vertex_in_degree(e).collect()}
    assert out == {1: 2, 2: 1, 3: 0}
    assert ind == {1: 1, 2: 1, 3: 1}


def test_edge_degree_annotations(spark):
    e = _edges(spark, [(1, 2, None), (2, 1, None), (1, 3, None)])
    pair = edge_degrees_pair(e).filter(
        (F.col("src") == 1) & (F.col("dst") == 3)
    ).collect()[0]
    assert (pair.src_degree, pair.src_out_degree, pair.src_in_degree) == (
        2, 2, 1,
    )
    assert (pair.dst_degree, pair.dst_out_degree, pair.dst_in_degree) == (
        1, 0, 1,
    )
    und = _edges(spark, [(1, 2, None), (2, 1, None), (1, 3, None), (3, 1, None)])
    row = edge_degree_pair(und).filter(
        (F.col("src") == 1) & (F.col("dst") == 2)
    ).collect()[0]
    assert (row.src_degree, row.dst_degree) == (2, 1)


def test_maximum_degree_filter(spark):
    """Star K1,3 with max_degree=2: the hub (degree 3) is removed with
    every incident edge."""
    rows = [
        (0, 1, None), (1, 0, None), (0, 2, None), (2, 0, None),
        (0, 3, None), (3, 0, None), (1, 2, None), (2, 1, None),
    ]
    g = Graph.from_edges(_edges(spark, rows))
    f = maximum_degree_filter(g, 2)
    assert sorted(r.id for r in f.vertices.collect()) == [1, 2, 3]
    assert sorted((r.src, r.dst) for r in f.edges.collect()) == [
        (1, 2), (2, 1),
    ]
    with pytest.raises(ValueError):
        maximum_degree_filter(g, 0)


def test_maximum_degree_filter_keeps_isolated_vertices(spark):
    """MaximumDegree.java removes only degree > max vertices; an isolated
    vertex (no edge, hence no degree row) must survive — the ADVICE r4
    regression: a semi-join against the low-degree set drops it."""
    edges = _edges(spark, [(1, 2, None), (2, 1, None)])
    vertices = spark.createDataFrame(
        [(1, None), (2, None), (99, None)], "id long, value string"
    )
    g = Graph(vertices, edges)
    f = maximum_degree_filter(g, 5)
    assert sorted(r.id for r in f.vertices.collect()) == [1, 2, 99]


def test_translators(spark):
    g = Graph.from_edges(
        _edges(spark, [(1, 2, None)]), vertex_value=F.col("id") * 10
    )
    t = translate_graph_ids(g, lambda c: c + 100)
    assert sorted(r.id for r in t.vertices.collect()) == [101, 102]
    assert [(r.src, r.dst) for r in t.edges.collect()] == [(101, 102)]
    s = translate_graph_ids(g, lambda c: c.cast("string"))
    assert sorted(r.id for r in s.vertices.collect()) == ["1", "2"]
    v = translate_vertex_values(g, lambda c: c + 1)
    assert sorted(r.value for r in v.vertices.collect()) == [11, 21]


def test_pregel_pagerank_matches_direct(spark):
    """A REAL message-passing algorithm through the Pregel facade:
    damped PageRank for a fixed superstep count reproduces
    functions.graph.pagerank to float tolerance (same math, same
    iteration structure — the facade adds no approximation)."""
    from flink_tornadovm_artifact_spark.functions.graph import pagerank

    e = _edges(spark, [(0, 1, None), (1, 2, None), (2, 0, None), (0, 2, None)])
    edges = e.select("src", "dst").persist()
    vertices = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    n = vertices.count()
    damping, iters = 0.85, 5
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))

    def compute(superstep, verts, messages):
        inflow = messages.groupBy("id").agg(
            F.sum("message").alias("inflow")
        )
        new_verts = verts.join(inflow, "id", "left").select(
            "id",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
            ).alias("value"),
        )
        if superstep == iters - 1:
            empty = verts.sparkSession.createDataFrame(
                [], "id long, message double"
            )
            return new_verts, empty
        msgs = (
            edges.join(new_verts, edges.src == new_verts.id)
            .join(out_deg, "src")
            .select(
                F.col("dst").alias("id"),
                (F.col("value") / F.col("deg")).alias("message"),
            )
        )
        return new_verts, msgs

    init_ranks = vertices.withColumn("value", F.lit(1.0 / n))
    init_msgs = (
        edges.join(init_ranks, edges.src == init_ranks.id)
        .join(out_deg, "src")
        .select(
            F.col("dst").alias("id"),
            (F.col("value") / F.col("deg")).alias("message"),
        )
    )
    got = {
        r.id: r.value
        for r in vertex_centric_iteration(
            init_ranks, init_msgs, compute, iters + 1
        ).collect()
    }
    want = {
        r.vertex: r.rank
        for r in pagerank(e, iterations=iters, damping=damping).collect()
    }
    assert got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) < 1e-12 for k in want)
    edges.unpersist()


def test_delta_loops_exit_without_an_extra_job(spark, monkeypatch):
    """Every delta loop reads its exit count off the superstep's own
    checkpoint: with ``DataFrame.isEmpty`` and ``DataFrame.count``
    disabled, each loop still reaches its fixpoint on a path graph with
    one back edge (0→1→2→3→4, 4→2, unit weights)."""
    from flink_tornadovm_artifact_spark.functions.graph import (
        connected_components,
        k_core,
        sssp,
    )
    from flink_tornadovm_artifact_spark.operators import Dataset

    rows = [(0, 1, 1), (1, 2, 1), (2, 3, 1), (3, 4, 1), (4, 2, 1)]
    e = _edges(spark, rows)
    verts = spark.createDataFrame([(v,) for v in range(5)], "id long")
    hops = {v: v for v in range(5)}

    def boom(*_a, **_k):
        raise AssertionError("superstep loop ran a separate exit job")

    frame = type(e)
    monkeypatch.setattr(frame, "isEmpty", boom)
    monkeypatch.setattr(frame, "count", boom)

    def as_dict(df, key, value):
        return {r[key]: r[value] for r in df.collect()}

    got = sssp(e.withColumnRenamed("value", "weight"), source=0)
    assert as_dict(got, "vertex", "distance") == hops
    got = connected_components(e.select("src", "dst"))
    assert as_dict(got, "vertex", "component") == dict.fromkeys(range(5), 0)
    got = k_core(e.select("src", "dst"), k=2)
    assert sorted(r.vertex for r in got.collect()) == [2, 3, 4]

    got = gather_sum_apply_iteration(
        e, verts.withColumn("value", F.col("id")),
        lambda sv, _ev: sv, F.min, lambda old, new: F.least(old, new), 10,
    )
    assert as_dict(got, "id", "value") == dict.fromkeys(range(5), 0)

    inf = 1 << 40
    got = scatter_gather_iteration(
        e,
        verts.withColumn(
            "value", F.when(F.col("id") == 0, 0).otherwise(inf).cast("long")
        ),
        lambda sv, ev: sv + ev, F.min, lambda old, new: F.least(old, new), 10,
    )
    assert as_dict(got, "id", "value") == hops

    def compute(_step, sol, msgs):
        best = msgs.groupBy("id").agg(F.min("msg").alias("msg"))
        j = sol.join(best, "id", "left")
        better = F.col("msg").isNotNull() & (F.col("msg") < F.col("value"))
        sent = (
            j.filter(better)
            .join(e, F.col("id") == F.col("src"))
            .select(F.col("dst").alias("id"), (F.col("msg") + 1).alias("msg"))
        )
        return j.select(
            "id", F.when(better, F.col("msg")).otherwise(F.col("value")).alias("value")
        ), sent

    got = vertex_centric_iteration(
        verts.withColumn("value", F.lit(inf).cast("long")),
        spark.createDataFrame([(0, 0)], "id long, msg long"),
        compute,
        10,
    )
    assert as_dict(got, "id", "value") == hops

    def bfs(sol, ws, i):
        new = (
            e.join(ws, e.src == ws.id)
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(sol, "id", "left_anti")
        )
        return sol.unionByName(new.withColumn("hops", F.lit(i + 1))), new

    start = Dataset(spark.createDataFrame([(0, 0)], "id long, hops int"))
    got = start.iterate_delta(
        Dataset(spark.createDataFrame([(0,)], "id long")), 10, bfs
    )
    assert as_dict(got.df, "id", "hops") == hops
