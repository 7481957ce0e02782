"""Graph pipelines: PageRank (bulk iteration), ConnectedComponents and
SingleSourceShortestPaths (delta iteration) — reference examples
``graph/PageRank.java``, ``graph/ConnectedComponents.java`` and the
Gelly library algorithm ``flink-gelly/.../library/
SingleSourceShortestPaths.java`` (DataSet.iterate / iterateDelta,
SURVEY.md §2.F) — plus the wider Gelly library family:
``TriangleEnumerator.java``, ``LabelPropagation.java``,
``linkanalysis/HITS.java``, ``similarity/JaccardIndex.java`` and
``similarity/AdamicAdar.java``.

Spark-first shape: pure DataFrame joins + aggregations per superstep.
Every iterative algorithm runs on the one superstep driver,
``iteration_models.iterate`` (or, where it carries two frames, on its
``checkpoint_counting`` primitive): one eager ``localCheckpoint`` per
superstep truncates lineage and observes the delta loops' exit count.
Loop-invariant edge tables are hash-partitioned on the per-superstep
join key once (``_partitioned``), so each superstep shuffles only the
state side.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iteration_models import _partitioned, checkpoint_counting, iterate
from .sizing import sized_shuffle as _sized_shuffle


def _two_per_step(superstep, iterations: int):
    """A driver step, and its step count, running a fixed ``iterations``
    supersteps two per checkpoint (an odd count ends on a one-superstep
    step)."""

    def step(state: DataFrame, i: int) -> DataFrame:
        state = superstep(state)
        return superstep(state) if 2 * i + 1 < iterations else state

    return step, (iterations + 1) // 2


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over an edge list (src long, dst long). Returns
    (vertex, rank). Dangling vertices keep the teleport mass.

    The out-degree rides on the edge list, attached once before the
    loop. Ranks are read once per superstep (the contribution join; the
    merge side reads the vertex table), so two supersteps share each
    checkpoint."""
    with _sized_shuffle(edges):
        # partitioned like the contributions' groupBy, so the rank merge
        # plans with no exchange on either side; persisted, because a
        # localCheckpoint drops the hash partitioning
        vertices = _partitioned(
            edges.select(F.col("src").alias("vertex"))
            .union(edges.select(F.col("dst").alias("vertex")))
            .distinct(),
            "vertex",
        )
        n = vertices.count()
        edges_deg = _partitioned(
            edges.join(
                edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")), "src"
            ),
            "src",
        )

        def superstep(ranks: DataFrame) -> DataFrame:
            contribs = (
                edges_deg.join(ranks, edges_deg.src == ranks.vertex)
                .select(
                    F.col("dst").alias("vertex"),
                    (F.col("rank") / F.col("deg")).alias("c"),
                )
                .groupBy("vertex")
                .agg(F.sum("c").alias("inflow"))
            )
            return vertices.join(contribs, "vertex", "left").select(
                "vertex",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
                ).alias("rank"),
            )

        ranks, _ = iterate(
            vertices.withColumn("rank", F.lit(1.0 / n)),
            *_two_per_step(superstep, iterations),
        )
        vertices.unpersist()
        edges_deg.unpersist()
        return ranks


def connected_components(edges: DataFrame, max_iterations: int = 50) -> DataFrame:
    """Delta-iteration label propagation (ConnectedComponents.java):
    solution = (vertex, component); workset = vertices whose label
    changed last round. Terminates when the workset empties. Returns
    (vertex, component) with component = min vertex id in the component.

    The state carries the solution and a ``changed`` flag per vertex;
    ``changed`` ⟺ the candidate is a strict improvement, and the
    flagged rows are the next workset. Each driver step runs two label
    propagations under one checkpoint (exact: see ``iterate``)."""
    with _sized_shuffle(edges):
        und = _partitioned(
            edges.select("src", "dst")
            .union(
                edges.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
            .distinct(),
            "src",
        )

        def relax(state: DataFrame) -> DataFrame:
            ws = state.filter("changed")
            cand = (
                und.join(ws, und.src == ws.vertex)
                .select(
                    F.col("dst").alias("vertex"),
                    F.col("component").alias("cand"),
                )
                .groupBy("vertex")
                .agg(F.min("cand").alias("cand"))
            )
            return state.join(cand, "vertex", "left").select(
                "vertex",
                F.least(
                    F.col("component"), F.coalesce("cand", F.col("component"))
                ).alias("component"),
                (
                    F.col("cand").isNotNull()
                    & (F.col("cand") < F.col("component"))
                ).alias("changed"),
            )

        start = (
            und.select(F.col("src").alias("vertex"))
            .distinct()
            .select(
                "vertex",
                F.col("vertex").alias("component"),
                F.lit(True).alias("changed"),
            )
        )
        state, _ = iterate(
            start, lambda s, _i: relax(relax(s)), max_iterations, F.col("changed")
        )
        und.unpersist()
        return state.select("vertex", "component")


def sssp(
    edges: DataFrame, source: int, max_iterations: int = 50
) -> DataFrame:
    """Single-source shortest paths via delta iteration — the Gelly
    library algorithm (``flink-gelly/.../library/
    SingleSourceShortestPaths.java``: scatter-gather min-distance
    propagation, which Gelly runs on the same delta-iteration runtime as
    ConnectedComponents).

    ``edges``: (src long, dst long, weight long), directed, positive
    weights. Returns (vertex, distance) for every vertex REACHABLE from
    ``source`` (Gelly reports unreachable vertices as +inf; the finite
    rows are identical, and a bigint distance keeps the oracle exact —
    no float summation-order drift).

    Delta-iteration shape, matching connected_components above: the
    per-round join touches only the WORKSET (vertices improved last
    round), not the full solution — the work per superstep shrinks as the
    frontier converges, exactly Flink's workset optimization. Each
    relaxation is one shuffle on the edge key plus a full-outer min-merge
    (solution-only rows pass through, candidate-only rows are new
    frontier); each driver step runs two relaxations under one
    checkpoint (exact: see ``iterate``).
    """
    with _sized_shuffle(edges):
        e = _partitioned(edges.select("src", "dst", "weight"), "src")

        def relax(state: DataFrame) -> DataFrame:
            ws = state.filter("changed")
            cand = (
                e.join(ws, e.src == ws.vertex)
                .select(
                    F.col("dst").alias("vertex"),
                    (F.col("distance") + F.col("weight")).alias("cand"),
                )
                .groupBy("vertex")
                .agg(F.min("cand").alias("cand"))
            )
            return state.join(cand, "vertex", "full").select(
                "vertex",
                F.least("distance", "cand").alias("distance"),
                (
                    F.col("cand").isNotNull()
                    & (
                        F.col("distance").isNull()
                        | (F.col("cand") < F.col("distance"))
                    )
                ).alias("changed"),
            )

        start = e.sparkSession.createDataFrame(
            [(source, 0, True)], "vertex long, distance long, changed boolean"
        )
        state, _ = iterate(
            start, lambda s, _i: relax(relax(s)), max_iterations, F.col("changed")
        )
        e.unpersist()
        return state.select("vertex", "distance")


def _undirect(edges: DataFrame) -> DataFrame:
    """Simple undirected edge set from an arbitrary directed edge list:
    canonical (u < v) endpoints, self-loops dropped, duplicates merged."""
    return (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _resolve_base(edges, base, factory):
    """Exactly one of ``edges`` / ``base`` must be given: a bare call
    would otherwise die deep in ``_undirect(None)`` with an opaque
    AttributeError, and passing both would silently compute over the
    base's edge frame while appearing to use ``edges``."""
    if base is not None:
        if edges is not None:
            raise ValueError("pass either edges or base, not both")
        return base
    if edges is None:
        raise ValueError("pass an edge DataFrame or a prebuilt base")
    return factory(edges)


class UndirectedGraphBase:
    """Shared base for the undirected Gelly analytics — the mirror of
    ``DirectedGraphBase`` (which measured −52% on the census bench when
    it landed): the canonical simple edge set, its degree table, and
    the (degree, id)-oriented edge list, each computed ONCE behind
    ``persist(MEMORY_AND_DISK)`` and re-read by every consumer.

    Without the base, each of triangles / local-global-average CC /
    triadic census / vertex-edge metrics re-plans the whole
    distinct+degree-join subtree on every internal re-read (the wedge
    join alone reads ``oriented`` twice and the closing semi-join a
    third time). Same lifetime rules as the directed base: persists are
    CacheManager plan-deduped across queries over the same edge frame;
    callers wanting deterministic cleanup build one base, pass it via
    ``base=``, and ``unpersist()`` after their action. persist() is
    lazy, so consumers that never touch ``oriented`` (jaccard/adamic)
    pay nothing for its registration.
    """

    def __init__(self, edges: DataFrame):
        self.und = _undirect(edges).persist(StorageLevel.MEMORY_AND_DISK)
        self.degrees = (
            self.und.select(F.col("u").alias("vertex"))
            .unionAll(self.und.select(F.col("v").alias("vertex")))
            .groupBy("vertex")
            .agg(F.count(F.lit(1)).alias("degree"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        du = self.degrees.select(
            F.col("vertex").alias("u"), F.col("degree").alias("du")
        )
        dv = self.degrees.select(
            F.col("vertex").alias("v"), F.col("degree").alias("dv")
        )
        u_first = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
        )
        #: edges oriented low (degree, id) → high: the apex-bounded
        #: wedge frame of TriangleEnumerator.java (Schank & Wagner)
        self.oriented = (
            self.und.join(du, "u")
            .join(dv, "v")
            .select(
                F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
                F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
                F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        #: Round 12 (guide §5): the enumerated triangle set, persisted —
        #: five undirected analytics (triangle_enum, local/global/average
        #: clustering, triadic census) each ran the full wedge join +
        #: closing semi-join per query; CacheManager plan-dedup now
        #: shares ONE enumeration per session per edge frame. persist()
        #: is lazy — consumers that never read triangles pay nothing.
        self.tri = _triangles_from_undirected_oriented(self.oriented).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        #: Round 12 (guide §5, the ``tri`` sharing applied to the
        #: similarity family): the wedge-pair aggregate
        #: (u, v, shared, aa) — jaccard and adamic-adar each ran the
        #: full hub-skew-safe ``_wedge_pairs`` enumeration per query
        #: over the same edge frame; one persisted aggregate now
        #: serves both. ``aa`` (Σ 1/ln d over wedge centers) rides in
        #: the same keyed aggregate for free — it is a per-center
        #: constant, so jaccard consumers simply ignore the column.
        #: persist() is lazy: consumers that never read it pay nothing.
        deg_x = self.degrees.select(
            F.col("vertex").alias("x"), F.col("degree").alias("d")
        )
        both = self.und.select(
            F.col("u").alias("x"), F.col("v").alias("y")
        ).unionAll(
            self.und.select(F.col("v").alias("x"), F.col("u").alias("y"))
        )
        wb = both.join(deg_x, "x").select(
            "x", "y", F.try_divide(F.lit(1.0), F.log(F.col("d"))).alias("w")
        )
        self.wedge_agg = (
            _wedge_pairs(wb, self.degrees, slim=both)
            .groupBy("u", "v")
            .agg(
                F.count(F.lit(1)).alias("shared"),
                F.sum("w").alias("aa"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    def unpersist(self, blocking: bool = False) -> None:
        for df in (
            self.wedge_agg,
            self.tri,
            self.oriented,
            self.degrees,
            self.und,
        ):
            df.unpersist(blocking)


def undirected_graph_base(edges: DataFrame) -> UndirectedGraphBase:
    """Build the shared undirected-analytics base (see the class note
    on cache lifetime and CacheManager plan-dedup)."""
    return UndirectedGraphBase(edges)


def _triangles_from_undirected_oriented(oriented: DataFrame) -> DataFrame:
    """Wedge join + closing semi-join over the (s, t, dt) oriented
    frame — reads it three times, which is why the base persists it."""
    a, b = oriented.alias("a"), oriented.alias("b")
    spoke_lt = (F.col("a.dt") < F.col("b.dt")) | (
        (F.col("a.dt") == F.col("b.dt")) & (F.col("a.t") < F.col("b.t"))
    )
    triads = a.join(b, (F.col("a.s") == F.col("b.s")) & spoke_lt).select(
        F.col("a.s").alias("apex"),
        F.col("a.t").alias("p"),
        F.col("b.t").alias("q"),
    )
    closing = oriented.select(F.col("s").alias("p"), F.col("t").alias("q"))
    tri = triads.join(closing, ["p", "q"], "left_semi")
    ids = F.array_sort(F.array("apex", "p", "q"))
    return tri.select(
        ids[0].alias("v1"), ids[1].alias("v2"), ids[2].alias("v3")
    )


def triangles(
    edges: DataFrame | None = None, base: UndirectedGraphBase | None = None
) -> DataFrame:
    """Triangle enumeration (``flink-gelly/.../library/
    TriangleEnumerator.java``): every triangle of the undirected simple
    graph, output once as (v1, v2, v3) with v1 < v2 < v3 by vertex id.

    Same degree-ordered-orientation algorithm as the reference (its
    DegreeCounter/TriadBuilder/TriadFilter group-reduce chain, after
    Schank & Wagner): orient each edge from the endpoint with the
    smaller (degree, id) to the larger, build triads only at each
    edge's low-degree apex, then confirm the closing edge with one
    equi-join. At 100 TB this is the plan that survives: wedge count is
    Σ out-deg², and degree orientation caps out-degree at O(√E) for any
    skew, so a celebrity hub never becomes a quadratic apex. Three
    shuffles total (degree agg, triad build, closing-edge join), all on
    vertex/edge keys, off the shared persisted ``UndirectedGraphBase``
    (round 12: served from the base's persisted ``tri`` frame, so
    consecutive analytics over the same edge frame enumerate once).
    """
    base = _resolve_base(edges, base, undirected_graph_base)
    return base.tri


def label_propagation(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """Community detection by label propagation
    (``flink-gelly/.../library/LabelPropagation.java``): vertices start
    with their own id as label; each superstep every vertex adopts the
    most frequent label among its in-neighbors' current labels, ties at
    the top frequency broken toward the HIGHEST label value, seeded
    with the vertex's own label at frequency 1 — the exact update rule
    of the reference's UpdateVertexLabel gather function (its running
    HashMap scan is order-independent: the result is the lexicographic
    max over (frequency, label)). Runs a fixed ``iterations`` supersteps
    (the reference's maxIterations bound, without the early-convergence
    cut, so the unrolled SQL oracle steps in lockstep).

    One shuffle per superstep (message groupBy) plus the argmax
    groupBy. Two supersteps share each checkpoint: the intermediate
    label frame, read by the next superstep's message join and
    own-label seed, is re-executed from reused shuffle output, which is
    cheaper than materializing it.
    """
    with _sized_shuffle(edges):
        e = _partitioned(edges, "src")

        def superstep(labels: DataFrame) -> DataFrame:
            msgs = e.join(labels, e.src == labels.vertex).select(
                F.col("dst").alias("vertex"), "label"
            )
            counts = msgs.groupBy("vertex", "label").agg(
                F.count(F.lit(1)).alias("freq")
            )
            own = labels.withColumn("freq", F.lit(1).cast("long"))
            return (
                counts.unionByName(own)
                .groupBy("vertex")
                .agg(F.max(F.struct("freq", "label")).alias("m"))
                .select("vertex", F.col("m.label").alias("label"))
            )

        start = (
            e.select(F.col("src").alias("vertex"))
            .union(e.select(F.col("dst").alias("vertex")))
            .distinct()
            .withColumn("label", F.col("vertex"))
        )
        labels, _ = iterate(start, *_two_per_step(superstep, iterations))
        e.unpersist()
        return labels


def hits(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Hubs-and-authorities (``flink-gelly/.../library/linkanalysis/
    HITS.java``): per iteration, hub(v) = Σ authority over v's
    out-neighbors, then authority(u) = Σ of the NEW hub over u's
    in-neighbors, then both vectors are normalized by the square root
    of their sum of squares — the reference's hubbiness →
    sum-of-hubbiness-squared → authority → sum-of-authority-squared
    pipeline order, with scores initialized to 1.0. Fixed iteration
    count (HITS(int iterations) constructor). Returns
    (vertex, hub, authority).

    Raises ``ValueError`` when ``iterations`` < 1.

    Two key-shuffles per iteration plus one scalar aggregate; the
    scalar normalizers come back via one-row crossJoin broadcast, so
    nothing vertex-sized ever reaches the driver.

    The loop carries only the RAW aggregate legs. A vertex absent from a
    leg has score exactly 0.0, and a 0.0 addend is exact in float
    summation, so zero-filling inside the loop cannot change any sum;
    one final zero-filling projection produces the scores. Per
    iteration that leaves: the e⋈auth join + grouped sum (h leg,
    checkpointed), the e⋈h join + grouped sum (a leg, checkpointed), and
    the 1-row ``an`` normalizer broadcast into the NEXT superstep's
    per-edge ``a/an`` division. The h leg joins on dst and the a leg on
    src, so the edge list is pre-partitioned on each.
    """
    if iterations < 1:
        raise ValueError(f"hits needs iterations >= 1, got {iterations}")
    with _sized_shuffle(edges):
        e = _partitioned(edges, "dst")
        e_src = _partitioned(edges, "src")
        h_raw = a_raw = an_row = None
        for _ in range(iterations):
            if an_row is None:
                # First superstep: every vertex's auth is the literal
                # 1.0, so the scores join degenerates to a per-edge
                # constant — no join needed at all.
                h_contrib = e.select("src", F.lit(1.0).alias("c"))
            else:
                h_contrib = (
                    e.join(a_raw, e.dst == a_raw.vertex)
                    .crossJoin(F.broadcast(an_row))
                    .select(
                        "src", (F.col("a") / F.col("an")).alias("c")
                    )
                )
            h_raw, _ = checkpoint_counting(
                h_contrib.groupBy(F.col("src").alias("vertex")).agg(
                    F.sum("c").alias("h")
                )
            )
            a_raw, _ = checkpoint_counting(
                e_src.join(h_raw, e_src.src == h_raw.vertex)
                .groupBy(F.col("dst").alias("vertex"))
                .agg(F.sum("h").alias("a"))
            )
            an_row = a_raw.agg(
                F.sqrt(F.sum(F.col("a") * F.col("a"))).alias("an")
            )
        norms = h_raw.agg(
            F.sqrt(F.sum(F.col("h") * F.col("h"))).alias("hn")
        ).crossJoin(an_row)
        # Zero-fill via a full outer join of the two checkpointed legs:
        # every src is in h_raw (each edge emits a contribution) and
        # every dst is in a_raw (each edge's src carries an h), so
        # h_raw.vertex ∪ a_raw.vertex IS the vertex set — no
        # union-distinct over the edge frame needed.
        scores = (
            h_raw.join(a_raw, "vertex", "full")
            .crossJoin(F.broadcast(norms))
            .select(
                "vertex",
                (F.coalesce("h", F.lit(0.0)) / F.col("hn")).alias("hub"),
                (F.coalesce("a", F.lit(0.0)) / F.col("an")).alias("auth"),
            )
        )
        e.unpersist()
        e_src.unpersist()
        return scores


#: Spoke-pair group size for the salted wedge join below — the Spark
#: analog of the reference's GROUP_SIZE = 64 (AdamicAdar.java:77 /
#: JaccardIndex.java): each wedge center's spoke list is split into
#: ~cap-sized buckets so no single join key carries a hub's quadratic
#: pair fan-out. 1024 (vs the reference's 64) because a Spark task is
#: far coarser than Flink's streamed group-reduce: 1024² ≈ 1M pairs
#: per (center, bucket-pair) key is tens of MB of task output, large
#: enough to amortize scheduling, small enough that a 10⁶-degree
#: celebrity hub fans out over ~(d/cap)²/2 ≈ 476k independent keys
#: instead of one straggler task.
WEDGE_GROUP_SIZE = 1024

#: Salting TRIGGER, decoupled from bucket size (round-11 probe): a
#: center is salted only above ``WEDGE_SALT_TRIGGER * cap`` spokes.
#: Below it, even a shuffle join's single-key task emits at most
#: (4·cap)²/2 = 8·cap² ≈ 8M pairs — minutes of slack, not a straggler
#: — and the measured salt premium (pair enumeration ~2×, and the
#: heavy leg's aggregation loses the probe-side spread that gives the
#: plain path map-side combine locality: 29.5 s vs 3.1 s end-to-end on
#: a deg-8000 fixture whose frame still broadcasts) is not worth
#: paying. Above the trigger the premium IS the insurance: at deg 10⁶
#: a shuffle join routes 5·10¹¹ pairs through one task (days) while
#: the salted form spreads them over ~(d/cap)²/2 ≈ 476k keys.
WEDGE_SALT_TRIGGER = 4


def _wedge_pairs(
    spokes: DataFrame,
    degrees: DataFrame,
    cap: int = WEDGE_GROUP_SIZE,
    slim: DataFrame | None = None,
) -> DataFrame:
    """All unordered spoke pairs per wedge center, hub-skew-safe.

    ``spokes`` holds one row per (center, spoke): columns ``x`` (center),
    ``y`` (spoke, unique within a center) plus any extra per-CENTER
    columns (identical across the center's rows, e.g. AdamicAdar's
    1/ln(d) weight). ``degrees`` is the (vertex, degree) table — the
    center's degree must equal its spoke count. Returns one row per
    (center, unordered spoke pair): ``x``, ``u`` < ``v``, and the
    extra columns.

    Mechanism (VERDICT r10 Next 5 — the registry's one unmechanized
    100×-scale skew spot): a plain self-join on the center key routes a
    degree-d hub's d(d−1)/2 candidate pairs through ONE join key = one
    straggler task. The reference distributes exactly this skew with
    its GenerateGroupSpans / GenerateGroups / GenerateGroupPairs chain
    (AdamicAdar.java:146 implementation note, GROUP_SIZE=64 spans at
    :77, mirrored in JaccardIndex.java); this is the Spark analog:

    - centers with d <= cap keep the plain self-join (zero overhead for
      the common case — no explode, no extra shuffle);
    - heavier centers are split into nb = ceil(d/cap) hash buckets of
      the spoke id (the reference's spans are exact 64-row chunks of
      the sorted spoke list; hash buckets avoid the per-center sort and
      are cap-sized in expectation). The left copy of a bucket-p row
      serves bucket pairs (p, q) for q in p..nb-1, the right copy
      (i, p) for i in 0..p, and the join key is (x, i, q) — so a pair
      {a ∈ bucket i, b ∈ bucket j} meets exactly once, at key
      (x, min(i,j), max(i,j)), and each key's output is ~cap² pairs
      regardless of d. The diagonal key (i == j) filters y_l < y_r to
      keep one orientation; off-diagonal keys need no filter and
      canonicalize via least/greatest.

    Both paths emit identical rows, so downstream aggregation by the
    pair key is oblivious to the split (pinned by the property test in
    tests/test_graph.py with a forced low cap and a hub fixture).

    The light/heavy split is routed through a broadcast anti/inner
    join against the (tiny) HUB LIST rather than by carrying the
    degree column on the join inputs: attaching ``d`` to both
    self-join sides turns their plan-statistics from
    "cached-union-sized" into "join-output-sized" and demoted the
    whole light join from broadcast-hash to sort-merge (measured 2.0 s
    → 9.1 s on the sf0.1 social graph — the r11 regression this
    comment is the autopsy of). With the anti-join shape the right
    side stays slim (x, y) and cache-estimated, so the planner keeps
    the broadcast self-join wherever the spoke frame genuinely fits,
    and falls back to shuffle joins at real scale exactly when it
    should. ``spokes`` must NOT carry ``d``; pass the degree table
    separately. Since only the LEFT copy's extra columns survive into
    the output, a caller attaching per-center extras via a join (the
    AdamicAdar weight) should pass the pre-join (x, y) frame as
    ``slim`` — the pair join's build side then keeps the slim,
    cache-estimated shape instead of the join-output shape Catalyst
    cannot prune (column pruning can't drop an inner join).
    """
    extra = [c for c in spokes.columns if c not in ("x", "y")]
    slim = slim if slim is not None else spokes.select("x", "y")
    hubs = degrees.filter(
        F.col("degree") > WEDGE_SALT_TRIGGER * cap
    ).select(F.col("vertex").alias("x"), F.col("degree").alias("d"))
    hub_keys = F.broadcast(hubs.select("x"))
    light_left = spokes.join(hub_keys, "x", "left_anti")
    light_right = slim.join(hub_keys, "x", "left_anti")
    a, b = light_left.alias("a"), light_right.alias("b")
    light_pairs = a.join(
        b, (F.col("a.x") == F.col("b.x")) & (F.col("a.y") < F.col("b.y"))
    ).select(
        F.col("a.x").alias("x"),
        F.col("a.y").alias("u"),
        F.col("b.y").alias("v"),
        *[F.col(f"a.{c}").alias(c) for c in extra],
    )

    heavy = (
        spokes.join(F.broadcast(hubs), "x")
        .withColumn("nb", F.ceil(F.col("d") / F.lit(cap)).cast("int"))
        .withColumn("p", F.pmod(F.xxhash64("y"), F.col("nb")).cast("int"))
    )
    hl = heavy.withColumn(
        "qq", F.explode(F.sequence(F.col("p"), F.col("nb") - F.lit(1)))
    ).alias("a")
    hr = heavy.withColumn(
        "ii", F.explode(F.sequence(F.lit(0), F.col("p")))
    ).alias("b")
    heavy_pairs = (
        hl.join(
            hr,
            (F.col("a.x") == F.col("b.x"))
            & (F.col("a.p") == F.col("b.ii"))
            & (F.col("a.qq") == F.col("b.p")),
        )
        .filter((F.col("a.p") != F.col("b.p")) | (F.col("a.y") < F.col("b.y")))
        .select(
            F.col("a.x").alias("x"),
            F.least(F.col("a.y"), F.col("b.y")).alias("u"),
            F.greatest(F.col("a.y"), F.col("b.y")).alias("v"),
            *[F.col(f"a.{c}").alias(c) for c in extra],
        )
    )
    return light_pairs.unionByName(heavy_pairs)


def _shared_neighbors(
    edges: DataFrame | None = None,
    und: DataFrame | None = None,
    degrees: DataFrame | None = None,
    cap: int = WEDGE_GROUP_SIZE,
) -> DataFrame:
    """(u, v, shared) for every vertex pair (u < v) of the undirected
    simple graph with at least one common neighbor — the wedge-join
    core shared by JaccardIndex and AdamicAdar, routed through the
    hub-skew-safe ``_wedge_pairs`` split (see its docstring; the
    reference's GenerateGroupSpans chain is the same mechanism). Pass a
    pre-persisted canonical edge set via ``und`` and its degree table
    via ``degrees`` to share both with the caller (the
    UndirectedGraphBase persists each exactly once)."""
    und = und if und is not None else _undirect(edges)
    both = und.select(F.col("u").alias("x"), F.col("v").alias("y")).unionAll(
        und.select(F.col("v").alias("x"), F.col("u").alias("y"))
    )
    if degrees is None:
        degrees = (
            both.groupBy(F.col("x").alias("vertex"))
            .agg(F.count(F.lit(1)).alias("degree"))
        )
    return (
        _wedge_pairs(both, degrees, cap=cap)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("shared"))
    )


def jaccard_index(
    edges: DataFrame | None = None,
    min_shared: int = 1,
    base: UndirectedGraphBase | None = None,
) -> DataFrame:
    """Neighborhood Jaccard similarity (``flink-gelly/.../library/
    similarity/JaccardIndex.java``): for each pair of vertices with at
    least one common neighbor, |N(u) ∩ N(v)| / |N(u) ∪ N(v)|.
    ``min_shared`` mirrors the reference's minimum-score filter
    (setMinimumScoreNumerator) — it bounds output cardinality, not the
    computation. Returns (u, v, shared, jaccard) with u < v.

    The canonical edge set and degree table come off the shared
    persisted ``UndirectedGraphBase``; pass ``base=`` to control cache
    lifetime deterministically (``base.unpersist()`` after the action),
    else the internal base is CacheManager plan-deduped as usual.
    """
    base = _resolve_base(edges, base, undirected_graph_base)
    deg = base.degrees.select(
        F.col("vertex").alias("x"), F.col("degree").alias("d")
    )
    # round 12: served from the base's persisted wedge aggregate (one
    # pair enumeration per session per edge frame, shared with
    # adamic_adar); the extra ``aa`` column is simply not selected
    pairs = base.wedge_agg.select("u", "v", "shared").filter(
        F.col("shared") >= min_shared
    )
    return (
        pairs.join(deg.withColumnRenamed("x", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("x", "v").withColumnRenamed("d", "dv"), "v")
        .select(
            "u",
            "v",
            "shared",
            (
                F.col("shared")
                / (F.col("du") + F.col("dv") - F.col("shared")).cast("double")
            ).alias("jaccard"),
        )
    )


def adamic_adar(
    edges: DataFrame | None = None,
    min_shared: int = 1,
    base: UndirectedGraphBase | None = None,
    min_ratio: float = 0.0,
    cap: int = WEDGE_GROUP_SIZE,
) -> DataFrame:
    """Adamic-Adar similarity (``flink-gelly/.../library/similarity/
    AdamicAdar.java``): for each vertex pair, Σ over common neighbors w
    of 1 / ln(deg(w)) — common neighbors weighted inversely by their
    popularity. Pairs with ``shared < min_shared`` are filtered.
    Returns (u, v, shared, aa) with u < v.

    ``min_ratio`` mirrors the reference's ``setMinimumRatio``
    (AdamicAdar.java:108): filter out scores below ``min_ratio`` times
    the mean score, where the mean is computed CLOSED-FORM from the
    degree table alone — Σ over vertices of C(d,2)·(1/ln d) divided by
    Σ C(d,2) (the reference's ComputeScoreFromVertex map + sum) — so
    the pruning costs one degree-table aggregate broadcast back as a
    1-row crossJoin, never a second pass over the pair set. This is the
    documented output-pruning knob for graphs whose pair cardinality is
    the binding cost at scale.

    Hub skew: the spoke-pair enumeration routes through the
    degree-capped salted ``_wedge_pairs`` split — the Spark analog of
    the reference's own GenerateGroupSpans skew distribution
    (AdamicAdar.java:77,146) — so a celebrity hub's quadratic pair
    fan-out spreads over ~(d/cap)² join keys instead of one straggler
    task. Edge set and degrees come off the shared persisted
    ``UndirectedGraphBase``; pass ``base=`` for deterministic cache
    cleanup (``base.unpersist()`` after the action).
    """
    base = _resolve_base(edges, base, undirected_graph_base)
    # round 12: at the default cap the (u, v, shared, aa) aggregate is
    # served from the base's persisted wedge frame — one pair
    # enumeration per session per edge frame, shared with
    # jaccard_index. (The weight/try_divide construction lives in the
    # base; see the wedge_agg note there.) A caller probing a
    # non-default cap still gets its own enumeration.
    if cap == WEDGE_GROUP_SIZE:
        scored = base.wedge_agg.filter(F.col("shared") >= min_shared)
    else:
        und = base.und
        deg = base.degrees.select(
            F.col("vertex").alias("x"), F.col("degree").alias("d")
        )
        both = und.select(
            F.col("u").alias("x"), F.col("v").alias("y")
        ).unionAll(
            und.select(F.col("v").alias("x"), F.col("u").alias("y"))
        )
        # annotate each wedge center with its inverse-log-degree
        # weight; try_divide because ln(1) = 0 for degree-1 centers —
        # such centers can never appear in the wedge join's output (a
        # wedge needs two incident edges), but under ANSI mode (Spark 4
        # default) a plain division would crash if a plan change ever
        # materialized this projection before the join filters them out
        wb = both.join(deg, "x").select(
            "x", "y", F.try_divide(F.lit(1.0), F.log(F.col("d"))).alias("w")
        )
        scored = (
            _wedge_pairs(wb, base.degrees, cap=cap, slim=both)
            .groupBy("u", "v")
            .agg(
                F.count(F.lit(1)).alias("shared"),
                F.sum("w").alias("aa"),
            )
            .filter(F.col("shared") >= min_shared)
        )
    if min_ratio > 0.0:
        # mean pair score from the degree table alone: each center of
        # degree d contributes C(d,2) pairs, each carrying 1/ln(d)
        mean = base.degrees.filter(F.col("degree") >= 2).agg(
            F.try_divide(
                F.sum(
                    F.col("degree")
                    * (F.col("degree") - 1)
                    / F.lit(2.0)
                    / F.log("degree")
                ),
                F.sum(F.col("degree") * (F.col("degree") - 1) / F.lit(2.0)),
            ).alias("mean_score")
        )
        scored = scored.crossJoin(F.broadcast(mean)).filter(
            F.col("aa") >= F.lit(min_ratio) * F.col("mean_score")
        ).drop("mean_score")
    return scored


def clustering_coefficients(
    edges: DataFrame | None = None, base: UndirectedGraphBase | None = None
) -> DataFrame:
    """Per-vertex clustering (``flink-gelly/.../library/clustering/
    undirected/LocalClusteringCoefficient.java``): degree, incident
    triangle count, and the local coefficient
    triangles / C(degree, 2) — the fraction of realized links among the
    vertex's neighbors. Degree-<2 vertices score 0.0 — a DELIBERATE
    deviation from the reference, whose per-vertex
    getLocalClusteringCoefficientScore returns Double.NaN when
    neighborPairs == 0; only its AverageClusteringCoefficient
    accumulator folds those vertices in as 0. We emit the accumulator's
    0 so downstream aggregates (and the SQL oracles) need no NaN
    handling. Returns (vertex, degree, tri_count, lcc).

    Reuses the degree-oriented ``triangles`` enumeration; the per-vertex
    count is one explode + groupBy on the (at most 3·#triangles) id
    rows. Degrees and the triangle wedge frame come off the shared
    persisted ``UndirectedGraphBase``.
    """
    base = _resolve_base(edges, base, undirected_graph_base)
    deg = base.degrees
    tri_per_v = (
        triangles(base=base)
        .select(F.explode(F.array("v1", "v2", "v3")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("tri_count"))
    )
    pairs = (F.col("degree") * (F.col("degree") - 1) / 2).cast("double")
    return (
        deg.join(tri_per_v, "vertex", "left")
        .select(
            "vertex",
            "degree",
            F.coalesce("tri_count", F.lit(0)).alias("tri_count"),
            F.when(F.col("degree") >= 2, F.coalesce("tri_count", F.lit(0)) / pairs)
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )


def global_clustering_coefficient(
    edges: DataFrame | None = None, base: UndirectedGraphBase | None = None
) -> DataFrame:
    """Whole-graph clustering (``.../clustering/undirected/
    GlobalClusteringCoefficient.java``): one row
    (triplet_count, triangle_count, gcc) with
    gcc = 3 · triangles / triplets, triplets = Σ C(degree, 2) — the
    reference's triplet/triangle counters reduced to a scalar, off the
    shared persisted ``UndirectedGraphBase``."""
    base = _resolve_base(edges, base, undirected_graph_base)
    triplets = base.degrees.agg(
        F.sum(F.col("degree") * (F.col("degree") - 1) / 2)
        .cast("long")
        .alias("triplet_count")
    )
    tri_total = triangles(base=base).agg(
        F.count(F.lit(1)).alias("triangle_count")
    )
    return triplets.crossJoin(tri_total).select(
        "triplet_count",
        "triangle_count",
        (
            3.0
            * F.col("triangle_count")
            / F.when(F.col("triplet_count") > 0, F.col("triplet_count"))
        ).alias("gcc"),
    )


def summarize(edges: DataFrame, vertex_label) -> DataFrame:
    """Structural graph summarization (``flink-gelly/.../library/
    Summarization.java``): vertices group by their value; each group is
    represented by its minimum vertex id; every edge maps its endpoints
    to the group representatives and the resulting multi-edges merge
    with a count — the reference's vertex-group / super-edge
    construction with COUNT as the edge-group reduce. ``vertex_label``
    is a Column expression over ``vertex``. Returns
    (src_group, dst_group, src_rep, dst_rep, edge_count).
    """
    vertices = (
        edges.select(F.col("src").alias("vertex"))
        .union(edges.select(F.col("dst").alias("vertex")))
        .distinct()
        .withColumn("grp", vertex_label)
    )
    reps = vertices.groupBy("grp").agg(F.min("vertex").alias("rep"))
    v2r = vertices.join(reps, "grp").select("vertex", "grp", "rep")
    return (
        edges.join(
            v2r.select(
                F.col("vertex").alias("src"),
                F.col("grp").alias("src_group"),
                F.col("rep").alias("src_rep"),
            ),
            "src",
        )
        .join(
            v2r.select(
                F.col("vertex").alias("dst"),
                F.col("grp").alias("dst_group"),
                F.col("rep").alias("dst_rep"),
            ),
            "dst",
        )
        .groupBy("src_group", "dst_group", "src_rep", "dst_rep")
        .agg(F.count(F.lit(1)).alias("edge_count"))
    )


def vertex_metrics(
    edges: DataFrame | None = None, base: UndirectedGraphBase | None = None
) -> DataFrame:
    """Undirected vertex metrics (``flink-gelly/.../library/metric/
    undirected/VertexMetrics.java``): one row
    (vertex_count, edge_count, triplet_count, maximum_degree,
    maximum_triplets) — the reference's accumulator set, with
    edge_count the undirected edge count and triplets = C(degree, 2)
    per vertex. One scalar reduce off the shared base's degree table."""
    base = _resolve_base(edges, base, undirected_graph_base)
    trip = (F.col("degree") * (F.col("degree") - 1) / 2).cast("long")
    return base.degrees.agg(
        F.count(F.lit(1)).alias("vertex_count"),
        (F.sum("degree") / 2).cast("long").alias("edge_count"),
        F.sum(trip).alias("triplet_count"),
        F.max("degree").alias("maximum_degree"),
        F.max(trip).alias("maximum_triplets"),
    )


def community_detection(
    edges: DataFrame,
    iterations: int = 2,
    delta: float = 0.5,
) -> DataFrame:
    """Score-attenuated community detection (``flink-gelly/.../library/
    CommunityDetection.java``, after Leung et al.): vertices start as
    (label = own id, score = 1.0) on the UNDIRECTED graph; each
    superstep every vertex sends (label, score · edge_weight) to its
    neighbors, then adopts the label with the highest SUMMED received
    score — ties broken toward the LOWEST label (the reference iterates
    a TreeMap in ascending label order with a strict `>` update; note
    the opposite tie direction from LabelPropagation.java). The adopted
    label's new score is the highest SINGLE received score for it,
    attenuated by delta / superstep when the label changed; vertices
    with no in-messages keep their value. Fixed ``iterations``
    supersteps (maxIterations without the convergence cut). Returns
    (vertex, label) — the reference strips scores from the result too.

    ``edges``: (src, dst) with unit weights — with delta = 0.5 and ≤ 2
    supersteps every score is a small dyadic rational, so summed scores
    are EXACT in IEEE arithmetic regardless of summation order and the
    argmax (and its tie-break) is engine-independent — which is what
    makes the SQL oracle sound. One message shuffle + one argmax groupBy
    per superstep, state checkpointed per superstep.
    """
    with _sized_shuffle(edges):
        und = _undirect(edges)
        both = _partitioned(
            und.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
                und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
            ),
            "src",
        )

        def superstep(state: DataFrame, i: int) -> DataFrame:
            msgs = both.join(state, both.src == state.vertex).select(
                F.col("dst").alias("vertex"), "label", F.col("score").alias("ms")
            )
            agg = msgs.groupBy("vertex", "label").agg(
                F.sum("ms").alias("total"), F.max("ms").alias("best")
            )
            # argmax over summed score, ties to the lowest label: max of
            # (total, -label) lexicographically — exact for dyadic scores
            pick = (
                agg.groupBy("vertex")
                .agg(
                    F.max(
                        F.struct("total", (-F.col("label")).alias("nl"), "best")
                    ).alias("m")
                )
                .select(
                    "vertex",
                    (-F.col("m.nl")).alias("new_label"),
                    F.col("m.best").alias("new_best"),
                )
            )
            return state.join(pick, "vertex", "left").select(
                "vertex",
                F.coalesce("new_label", "label").alias("label"),
                F.when(F.col("new_label").isNull(), F.col("score"))
                .when(
                    F.col("new_label") != F.col("label"),
                    F.col("new_best") - F.lit(delta) / (i + 1),
                )
                .otherwise(F.col("new_best"))
                .alias("score"),
            )

        start = (
            both.select(F.col("src").alias("vertex"))
            .distinct()
            .select(
                "vertex",
                F.col("vertex").alias("label"),
                F.lit(1.0).alias("score"),
            )
        )
        state, _ = iterate(start, superstep, iterations)
        both.unpersist()
        return state.select("vertex", "label")


def edge_metrics(
    edges: DataFrame | None = None, base: UndirectedGraphBase | None = None
) -> DataFrame:
    """Undirected edge metrics (``flink-gelly/.../library/metric/
    undirected/EdgeMetrics.java``): per vertex v let d be its degree and
    ℓ its low-order count — the number of neighbors u with
    (d(v), v) < (d(u), u), i.e. the edges the degree orientation points
    OUT of v (the reference's EdgeStats one/zero marker summed per
    vertex). One row:

    - triangle_triplet_count  = Σ ℓ·(ℓ-1)/2  (triplets the triangle
      orientation builds at their apex)
    - rectangle_triplet_count = Σ (ℓ·(ℓ-1)/2 + ℓ·(d-ℓ))
    - maximum_triangle_triplets / maximum_rectangle_triplets = the per-
      vertex maxima of the same quantities.

    ℓ(v) is exactly v's out-degree in the base's (degree, id)-oriented
    edge list, so the whole metric is one groupBy on the persisted
    oriented frame joined back to the persisted degree table — the
    previous standalone plan re-derived both from scratch via a
    doubled-edge three-way join.
    """
    base = _resolve_base(edges, base, undirected_graph_base)
    louts = base.oriented.groupBy(F.col("s").alias("vertex")).agg(
        F.count(F.lit(1)).alias("l")
    )
    per_v = base.degrees.join(louts, "vertex", "left").select(
        "vertex",
        F.col("degree").alias("d"),
        F.coalesce("l", F.lit(0)).alias("l"),
    )
    tri = (F.col("l") * (F.col("l") - 1) / 2).cast("long")
    rect = (tri + F.col("l") * (F.col("d") - F.col("l"))).cast("long")
    return per_v.agg(
        F.sum(tri).alias("triangle_triplet_count"),
        F.sum(rect).alias("rectangle_triplet_count"),
        F.max(tri).alias("maximum_triangle_triplets"),
        F.max(rect).alias("maximum_rectangle_triplets"),
    )


def average_clustering_coefficient(
    edges: DataFrame | None = None, base: UndirectedGraphBase | None = None
) -> DataFrame:
    """Mean local clustering (``.../clustering/undirected/
    AverageClusteringCoefficient.java``): one row (vertex_count,
    sum_lcc, acc) — vertices below degree 2 contribute 0, the
    reference's accumulator semantics."""
    base = _resolve_base(edges, base, undirected_graph_base)
    return clustering_coefficients(base=base).agg(
        F.count(F.lit(1)).alias("vertex_count"),
        F.sum("lcc").alias("sum_lcc"),
        (F.sum("lcc") / F.count(F.lit(1))).alias("acc"),
    )


def triadic_census(
    edges: DataFrame | None = None, base: UndirectedGraphBase | None = None
) -> DataFrame:
    """Undirected triadic census (``.../clustering/undirected/
    TriadicCensus.java``): counts of the four undirected triad types
    over all C(n,3) vertex triples, derived in closed form from vertex
    metrics and the triangle count exactly as the reference does —
    30 (triangle) = t; 21 (open triplet) = triplets − 3t;
    12 (one edge) = m·(n−2) − 2·(21) − 3·(30); 03 = C(n,3) − rest.

    The C(n,3) product runs in decimal(38,0), mirroring the reference's
    BigInteger arithmetic: a bigint n·(n−1)·(n−2) wraps past n ≈ 2.1M
    vertices and a double division loses exactness past n ≈ 208k. The
    final counts cast back to long — exact while every class count is
    below 2^63 (n up to ~4.6M; beyond that a wider output type, not a
    different algorithm, is the change)."""
    base = _resolve_base(edges, base, undirected_graph_base)
    vm = vertex_metrics(base=base)
    t = triangles(base=base).agg(F.count(F.lit(1)).alias("t"))
    dec = "decimal(38,0)"
    n = F.col("vertex_count").cast(dec)
    m = F.col("edge_count").cast(dec)
    w = F.col("triplet_count").cast(dec)
    t30 = F.col("t").cast(dec)
    t21 = w - 3 * t30
    t12 = m * (n - 2) - 2 * t21 - 3 * t30
    t03 = (n * (n - 1) * (n - 2) / 6).cast(dec) - t12 - t21 - t30
    return vm.crossJoin(F.broadcast(t)).select(
        t03.cast("long").alias("triads_03"),
        t12.cast("long").alias("triads_12"),
        t21.cast("long").alias("triads_21"),
        t30.cast("long").alias("triads_30"),
    )


class DirectedGraphBase:
    """Shared base for the directed Gelly analytics: the (a, b, m)
    EdgeOrder pair-mask frame, its distinct-neighbor degree table, and
    the degree-oriented masked edge list, each computed ONCE behind
    ``persist(MEMORY_AND_DISK)`` and re-read by every consumer.

    The clustering/census analytics each re-read the pair-mask and
    oriented frames up to three times inside one action; without the
    base each re-read re-plans the whole distinct+groupBy+degree-join
    subtree (PLAN_AUDIT r4: 24-25 exchanges per directed query). This
    is the GraphX discipline at 100 TB: multi-pass graph analytics
    persist their (already simple/deduplicated, so O(E)) edge frame;
    MEMORY_AND_DISK spills instead of OOMing.

    Lifetime: bases are NOT auto-evicted. Spark's CacheManager dedupes
    persist() calls on semantically identical plans ("already cached"),
    so N directed queries over the same edge frame in one session share
    ONE set of cache entries — auto-unpersisting any base would silently
    uncache every live sibling (the bug that motivated this note). A
    session therefore holds at most one pm/degrees/oriented entry per
    DISTINCT edge frame, all MEMORY_AND_DISK; callers wanting
    deterministic cleanup create one base, pass it via ``base=``, and
    ``unpersist()`` when their action has run.
    """

    def __init__(self, edges: DataFrame):
        self.pm = _pair_masks(edges).persist(StorageLevel.MEMORY_AND_DISK)
        self.degrees = (
            self.pm.select(F.col("a").alias("vertex"))
            .unionAll(self.pm.select(F.col("b").alias("vertex")))
            .groupBy("vertex")
            .agg(F.count(F.lit(1)).alias("degree"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        da = self.degrees.select(
            F.col("vertex").alias("a"), F.col("degree").alias("da")
        )
        db = self.degrees.select(
            F.col("vertex").alias("b"), F.col("degree").alias("db")
        )
        a_first = (F.col("da") < F.col("db")) | (
            (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
        )
        #: masked edges oriented low-degree → high-degree (s, t, dt, m):
        #: the apex-bounded wedge-join frame of TriangleListing.java
        self.oriented = (
            self.pm.join(da, "a")
            .join(db, "b")
            .select(
                F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("s"),
                F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("t"),
                F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dt"),
                F.col("m"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        #: Round 12 (guide §5): the masked triangle listing, persisted —
        #: the five directed clustering/census analytics each re-ran the
        #: wedge join + closing join per query; plan-dedup now shares
        #: ONE listing per session per edge frame (lazy persist, free
        #: for consumers that never read it).
        self.tri = _triangle_listing_from_oriented(self.oriented).persist(
            StorageLevel.MEMORY_AND_DISK
        )

    def unpersist(self, blocking: bool = False) -> None:
        for df in (self.tri, self.oriented, self.degrees, self.pm):
            df.unpersist(blocking)


def directed_graph_base(edges: DataFrame) -> DirectedGraphBase:
    """Build the shared directed-analytics base (see the class note on
    cache lifetime and CacheManager plan-dedup)."""
    return DirectedGraphBase(edges)


def _pair_flags(pm: DataFrame) -> DataFrame:
    """Per-vertex (us, ut, bi) neighbor-direction counts off the
    pair-mask frame: out-only, in-only, and mutual distinct neighbors
    (for endpoint a the out/in bits are (m & 2, m & 1); for b they
    flip). Shared by the census and the directed vertex metrics."""

    def _flags(v, out_bit, in_bit):
        out_e = F.col("m").bitwiseAND(F.lit(out_bit)) != 0
        in_e = F.col("m").bitwiseAND(F.lit(in_bit)) != 0
        return pm.select(
            F.col(v).alias("vertex"),
            (out_e & ~in_e).cast("int").alias("us_f"),
            (in_e & ~out_e).cast("int").alias("ut_f"),
            (out_e & in_e).cast("int").alias("bi_f"),
        )

    return (
        _flags("a", 2, 1)
        .unionAll(_flags("b", 1, 2))
        .groupBy("vertex")
        .agg(
            F.sum("us_f").alias("us"),
            F.sum("ut_f").alias("ut"),
            F.sum("bi_f").alias("bi"),
        )
    )


def vertex_metrics_directed(
    edges: DataFrame | None = None, base: DirectedGraphBase | None = None
) -> DataFrame:
    """Directed vertex metrics (``flink-gelly/.../library/metric/
    directed/VertexMetrics.java``): on the simple directed graph
    (duplicate edges merged, self-loops dropped), per vertex let
    degree = distinct neighbors in either direction, out/in = out-/
    in-neighbor counts, bidirectional = neighbors connected both ways.
    One row with the reference's accumulator set: vertex count,
    unidirectional/bidirectional edge-pair counts (the per-endpoint
    sums halved, as in the reference), Σ C(degree, 2) triplets, and
    the degree/out/in/triplet maxima. All quantities come off the
    shared pair-mask frame: degree = us+ut+bi, out = us+bi, in = ut+bi.
    """
    base = _resolve_base(edges, base, directed_graph_base)
    per_v = _pair_flags(base.pm).select(
        (F.col("us") + F.col("ut") + F.col("bi")).alias("deg"),
        (F.col("us") + F.col("bi")).alias("outd"),
        (F.col("ut") + F.col("bi")).alias("ind"),
        F.col("bi").alias("bidi"),
    )
    trip = (F.col("deg") * (F.col("deg") - 1) / 2).cast("long")
    return per_v.agg(
        F.count(F.lit(1)).alias("vertex_count"),
        (F.sum(F.col("deg") - F.col("bidi")) / 2).cast("long").alias(
            "unidirectional_edge_count"
        ),
        (F.sum("bidi") / 2).cast("long").alias("bidirectional_edge_count"),
        F.sum(trip).alias("triplet_count"),
        F.max("deg").alias("maximum_degree"),
        F.max("outd").alias("maximum_out_degree"),
        F.max("ind").alias("maximum_in_degree"),
        F.max(trip).alias("maximum_triplets"),
    )


def triangle_listing_directed(
    edges: DataFrame | None = None, base: DirectedGraphBase | None = None
) -> DataFrame:
    """Directed triangle listing (``flink-gelly/.../library/clustering/
    directed/TriangleListing.java``): every triangle of the underlying
    undirected simple graph, annotated with a 6-bit mask recording
    which of the six possible directed edges exist — 2 bits per vertex
    pair using the reference's EdgeOrder encoding (``EdgeOrder.java``:
    FORWARD = 0b10 low→high, REVERSE = 0b01 high→low, MUTUAL = 0b11).

    Output: (v1, v2, v3, bitmask) with v1 < v2 < v3 and bit layout
    (v1,v2) << 4 | (v1,v3) << 2 | (v2,v3). The reference emits the same
    mask with its vertices projected in degree order; id order is a
    deterministic canonicalization of identical information (same
    triangle set, same per-pair direction bits).

    Plan: the per-pair direction masks ride ALONG the degree-oriented
    wedge join (the reference's TriadBuilder carries its edge bitmasks
    the same way, TriangleListing.java:110-127) — the two spoke masks
    annotate the oriented edges, and the closing-edge semi join becomes
    an inner join that returns the third mask. Join count is identical
    to the undirected ``triangles`` enumeration (degree agg, wedge
    build, closing join); the naive alternative — three post-joins of
    the triangle list against the pair summary — re-shuffles the
    O(#triangles) output three times and measured 5× slower on the
    saturated sf0.1 graph.
    """
    base = _resolve_base(edges, base, directed_graph_base)
    # round 12: served from the base's persisted ``tri`` frame — one
    # enumeration per session per edge frame across the directed family
    return base.tri


def _pair_masks(edges: DataFrame) -> DataFrame:
    """(a, b, m) with a < b and m the 2-bit EdgeOrder mask — the
    shared base frame every directed analytic derives from (see
    ``DirectedGraphBase``, which computes it once behind persist())."""
    return (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.when(F.col("src") < F.col("dst"), F.lit(2))
            .otherwise(F.lit(1))
            .alias("bit"),
        )
        .groupBy("a", "b")
        .agg(F.bit_or("bit").alias("m"))
    )


def _triangle_listing_from_oriented(oriented: DataFrame) -> DataFrame:
    ea, eb = oriented.alias("ea"), oriented.alias("eb")
    spoke_lt = (F.col("ea.dt") < F.col("eb.dt")) | (
        (F.col("ea.dt") == F.col("eb.dt")) & (F.col("ea.t") < F.col("eb.t"))
    )
    triads = ea.join(eb, (F.col("ea.s") == F.col("eb.s")) & spoke_lt).select(
        F.col("ea.s").alias("apex"),
        F.col("ea.t").alias("p"),
        F.col("eb.t").alias("q"),
        F.col("ea.m").alias("m_ap"),
        F.col("eb.m").alias("m_aq"),
    )
    closing = oriented.select(
        F.col("s").alias("p"), F.col("t").alias("q"), F.col("m").alias("m_pq")
    )
    tri = triads.join(closing, ["p", "q"])
    ids = F.array_sort(F.array("apex", "p", "q"))
    v1, v2, v3 = ids[0], ids[1], ids[2]

    # each mask belongs to an unordered pair; place it by sorted position
    def _mask_for(lo, hi):
        ap_lo, ap_hi = F.least("apex", "p"), F.greatest("apex", "p")
        aq_lo, aq_hi = F.least("apex", "q"), F.greatest("apex", "q")
        return (
            F.when((ap_lo == lo) & (ap_hi == hi), F.col("m_ap"))
            .when((aq_lo == lo) & (aq_hi == hi), F.col("m_aq"))
            .otherwise(F.col("m_pq"))
        )

    return tri.select(
        v1.alias("v1"),
        v2.alias("v2"),
        v3.alias("v3"),
        (
            F.shiftleft(_mask_for(v1, v2), 4)
            + F.shiftleft(_mask_for(v1, v3), 2)
            + _mask_for(v2, v3)
        ).alias("bitmask"),
    )


def local_clustering_coefficient_directed(
    edges: DataFrame | None = None, base: DirectedGraphBase | None = None
) -> DataFrame:
    """Directed per-vertex clustering (``flink-gelly/.../library/
    clustering/directed/LocalClusteringCoefficient.java``): for each
    vertex, the number of DIRECTED edges among its distinct neighbors —
    from the directed triangle listing, each triangle credits a vertex
    1, or 2 when the pair opposite it is MUTUAL (the reference's
    SplitTriangles two/one emission) — scored against the
    deg·(deg−1) ordered neighbor pairs. Returns
    (vertex, degree, tri_count, lcc). Degree-<2 vertices score 0.0 — a
    DELIBERATE deviation from the reference's per-vertex NaN (see
    clustering_coefficients); its AverageClusteringCoefficient treats
    them as 0, which is the semantics we keep everywhere.
    """
    base = _resolve_base(edges, base, directed_graph_base)

    # ONE scan of the listing: each triangle row explodes into its
    # three (vertex, credit) contributions — credit 2 when the pair
    # OPPOSITE the vertex is MUTUAL, in the (v1,v2)<<4 | (v1,v3)<<2 |
    # (v2,v3) mask layout. (A previous form selected the listing three
    # times behind a persist(): 3× the plan subtree plus a cache entry
    # leaked past the call — the round-4 plan audit surfaced it.)
    def _credit(v, shift):
        return F.struct(
            F.col(v).alias("vertex"),
            F.when(
                F.shiftright("bitmask", shift).bitwiseAND(F.lit(3)) == 3,
                F.lit(2),
            )
            .otherwise(F.lit(1))
            .alias("c"),
        )

    contribs = (
        triangle_listing_directed(base=base)
        .select(
            F.explode(
                F.array(
                    _credit("v1", 0), _credit("v2", 2), _credit("v3", 4)
                )
            ).alias("s")
        )
        .select("s.vertex", "s.c")
    )
    counts = contribs.groupBy("vertex").agg(F.sum("c").alias("tri_count"))
    # distinct-neighbor degree straight off the shared (persisted) base
    deg = base.degrees
    out = deg.join(counts, "vertex", "left").select(
        "vertex",
        "degree",
        F.coalesce("tri_count", F.lit(0)).alias("tri_count"),
        F.when(
            F.col("degree") >= 2,
            F.coalesce("tri_count", F.lit(0))
            / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )
    return out


def global_clustering_coefficient_directed(
    edges: DataFrame | None = None, base: DirectedGraphBase | None = None
) -> DataFrame:
    """Directed whole-graph clustering (``flink-gelly/.../library/
    clustering/directed/GlobalClusteringCoefficient.java``): one row
    (triplet_count, triangle_count, gcc). The reference counts
    triplets as Σ C(degree, 2) over the simple directed graph's
    distinct-neighbor degrees (directed VertexMetrics) and triangles as
    3 × the directed triangle listing's row count (each listed triangle
    is counted from each of its three vertices,
    GlobalClusteringCoefficient.java:82); the score is
    triangle_count / triplet_count (NULL when the graph has no
    triplets, the reference's NaN).

    Both quantities come off the shared base: triplets as the degree
    aggregate, triangles as the row count of the oriented listing.
    """
    base = _resolve_base(edges, base, directed_graph_base)
    d = F.col("degree")
    triplets = base.degrees.agg(
        F.sum(d * (d - 1) / 2).cast("long").alias("triplet_count")
    )
    tri_total = triangle_listing_directed(base=base).agg(
        (3 * F.count(F.lit(1))).cast("long").alias("triangle_count")
    )
    return triplets.crossJoin(F.broadcast(tri_total)).select(
        "triplet_count",
        "triangle_count",
        (
            F.col("triangle_count")
            / F.when(F.col("triplet_count") > 0, F.col("triplet_count"))
        ).alias("gcc"),
    )


def average_clustering_coefficient_directed(
    edges: DataFrame | None = None, base: DirectedGraphBase | None = None
) -> DataFrame:
    """Directed mean local clustering (``flink-gelly/.../library/
    clustering/directed/AverageClusteringCoefficient.java``): one row
    (vertex_count, sum_lcc, acc). The reference sums the local score
    only over vertices with degree > 1 (its helper's writeRecord guard)
    but divides by the TOTAL vertex count; our directed local scores
    are 0.0 for degree < 2 (a documented deviation from the reference's
    NaN — see local_clustering_coefficient_directed), so the explicit
    degree filter reproduces the reference sum exactly.
    """
    base = _resolve_base(edges, base, directed_graph_base)
    lcc = local_clustering_coefficient_directed(base=base)
    return lcc.agg(
        F.count(F.lit(1)).alias("vertex_count"),
        F.sum(F.when(F.col("degree") > 1, F.col("lcc")).otherwise(F.lit(0.0))).alias(
            "sum_lcc"
        ),
        (
            F.sum(F.when(F.col("degree") > 1, F.col("lcc")).otherwise(F.lit(0.0)))
            / F.count(F.lit(1))
        ).alias("acc"),
    )


#: Batagelj & Mrvar's 64-entry map from a 6-bit directed-triad adjacency
#: mask to its triad-isomorphism class 1..16 ("A subquadratic triad
#: census algorithm for large sparse networks with small maximum
#: degree", the table the reference embeds at TriadicCensus.java:205).
#: Index layout = (pair v1v2) << 4 | (pair v1v3) << 2 | (pair v2v3),
#: two EdgeOrder bits per pair (FORWARD lo→hi = 0b10, REVERSE = 0b01) —
#: the classes are invariant under vertex relabeling, so the table
#: applies to id-ordered masks exactly as to the reference's
#: degree-ordered ones.
_TRIAD_TYPE_TABLE: tuple[int, ...] = (
    1, 2, 2, 3, 2, 4, 6, 8,
    2, 6, 5, 7, 3, 8, 7, 11,
    2, 6, 4, 8, 5, 9, 9, 13,
    6, 10, 9, 14, 7, 14, 12, 15,
    2, 5, 6, 7, 6, 9, 10, 14,
    4, 9, 9, 12, 8, 13, 14, 15,
    3, 7, 8, 11, 7, 12, 14, 15,
    8, 14, 13, 15, 11, 15, 15, 16,
)

#: class id → reference accumulator name for the 7 triangle classes
#: (TriadicCensus.java:225-242); open/empty classes are derived closed-
#: form below and never appear in the triangle listing.
_TRIANGLE_CLASSES = {9: "030t", 10: "030c", 12: "120d", 13: "120u",
                     14: "120c", 15: "210", 16: "300"}


def triadic_census_directed(
    edges: DataFrame | None = None, base: DirectedGraphBase | None = None
) -> DataFrame:
    """Directed triadic census (``flink-gelly/.../library/clustering/
    directed/TriadicCensus.java``): the 16 directed-triad class counts
    over all C(n,3) vertex triples, computed exactly as the reference —
    the 7 triangle classes from the directed triangle listing's bitmask
    distribution via Batagelj-Mrvar's type table, the 6 open-triplet
    classes from per-vertex (degree, out, in) products minus the
    triangles they close into, the 2 one-edge classes from edge counts,
    and 003 as the C(n,3) remainder (TriadicCensus.java:84-185's
    BigInteger cascade, run here in decimal(38,0)).

    Two aggregates total: one over per-vertex degrees, one over the
    triangle listing; the cascade itself is a single-row expression.
    Output columns follow the reference Result order: triads_003,
    triads_012, triads_102, triads_021d, triads_021u, triads_021c,
    triads_111d, triads_111u, triads_030t, triads_030c, triads_201,
    triads_120d, triads_120u, triads_120c, triads_210, triads_300.
    """
    # all per-vertex quantities come off the shared persisted base:
    # the census's degree stats read the pair-mask frame once
    # (_pair_flags) and the triangle listing reads the oriented frame —
    # both cache hits after the base materializes
    base = _resolve_base(edges, base, directed_graph_base)
    per_v = _pair_flags(base.pm)
    us, ut, bi = F.col("us"), F.col("ut"), F.col("bi")
    vstats = per_v.agg(
        F.count(F.lit(1)).alias("vc"),
        (F.sum(us + ut) / 2).cast("long").alias("uec"),
        (F.sum(bi) / 2).cast("long").alias("bec"),
        F.sum(us * (us - 1) / 2).cast("long").alias("p021d"),
        F.sum(ut * (ut - 1) / 2).cast("long").alias("p021u"),
        F.sum(us * ut).cast("long").alias("p021c"),
        F.sum(ut * bi).cast("long").alias("p111d"),
        F.sum(us * bi).cast("long").alias("p111u"),
        F.sum(bi * (bi - 1) / 2).cast("long").alias("p201"),
    )
    table = F.array(*[F.lit(t) for t in _TRIAD_TYPE_TABLE])
    classed = triangle_listing_directed(base=base).select(
        F.element_at(table, F.col("bitmask") + 1).alias("cls")
    )
    tstats = classed.agg(
        *[
            F.sum(F.when(F.col("cls") == c, 1).otherwise(0))
            .cast("long")
            .alias("t" + name)
            for c, name in _TRIANGLE_CLASSES.items()
        ]
    )
    dec = "decimal(38,0)"
    j = vstats.crossJoin(F.broadcast(tstats))
    n = F.col("vc").cast(dec)
    uec, bec = F.col("uec").cast(dec), F.col("bec").cast(dec)
    t030t, t030c = F.col("t030t").cast(dec), F.col("t030c").cast(dec)
    t120d, t120u = F.col("t120d").cast(dec), F.col("t120u").cast(dec)
    t120c, t210 = F.col("t120c").cast(dec), F.col("t210").cast(dec)
    t300 = F.col("t300").cast(dec)
    # open triplets: raw per-vertex products minus the triangles that
    # close them (TriadicCensus.java:108-131)
    c201 = F.col("p201").cast(dec) - 3 * t300 - t210
    c111d = F.col("p111d").cast(dec) - t210 - t120c - 2 * t120d
    c111u = F.col("p111u").cast(dec) - t210 - t120c - 2 * t120u
    c021c = F.col("p021c").cast(dec) - t120c - 3 * t030c - t030t
    c021u = F.col("p021u").cast(dec) - t120u - t030t
    c021d = F.col("p021d").cast(dec) - t120d - t030t
    # one-edge triads (TriadicCensus.java:135-158)
    c102 = (
        bec * (n - 2)
        - c111d - c111u - 2 * c201
        - t120d - t120u - t120c - 2 * t210 - 3 * t300
    )
    c012 = (
        uec * (n - 2)
        - 2 * (c021d + c021u + c021c)
        - c111d - c111u
        - 3 * (t030t + t030c)
        - 2 * (t120d + t120u + t120c)
        - t210
    )
    c003 = (
        (n * (n - 1) * (n - 2) / 6).cast(dec)
        - c012 - c102
        - c021d - c021u - c021c - c111d - c111u
        - t030t - t030c - c201 - t120d - t120u - t120c - t210 - t300
    )
    ordered = [
        ("triads_003", c003), ("triads_012", c012), ("triads_102", c102),
        ("triads_021d", c021d), ("triads_021u", c021u),
        ("triads_021c", c021c), ("triads_111d", c111d),
        ("triads_111u", c111u), ("triads_030t", t030t),
        ("triads_030c", t030c), ("triads_201", c201),
        ("triads_120d", t120d), ("triads_120u", t120u),
        ("triads_120c", t120c), ("triads_210", t210),
        ("triads_300", t300),
    ]
    return j.select(*[expr.cast("long").alias(name) for name, expr in ordered])


def edge_metrics_directed(
    edges: DataFrame | None = None, base: DirectedGraphBase | None = None
) -> DataFrame:
    """Directed edge metrics (``flink-gelly/.../library/metric/directed/
    EdgeMetrics.java``): one row (triangle_triplet_count,
    rectangle_triplet_count, maximum_triangle_triplets,
    maximum_rectangle_triplets). Per vertex of the simple directed
    graph, let l = the number of distinct neighbors that are
    "higher-order" (higher distinct-neighbor degree, ties by id —
    EdgeMetrics.java:158's low-order flag summed per vertex after the
    mutual-pair dedup) and h = degree − l; triangle triplets = C(l, 2),
    rectangle triplets = C(l, 2) + l·h.

    Plan: l is exactly the out-degree of the base's degree-ORIENTED
    edge frame (s = lower-order endpoint, so counting rows by s counts
    each vertex's higher-order neighbors) — one groupBy over the
    persisted oriented frame plus a join against the persisted degree
    table, replacing the former neighbor-pair expansion + degree
    self-join. Vertices that never appear as s get l = 0 and contribute
    0 to every aggregate, as before.
    """
    base = _resolve_base(edges, base, directed_graph_base)
    lcount = base.oriented.groupBy(F.col("s").alias("vertex")).agg(
        F.count(F.lit(1)).alias("l")
    )
    per_v = base.degrees.join(lcount, "vertex", "left").select(
        F.col("degree").alias("d"), F.coalesce("l", F.lit(0)).alias("l")
    )
    tri = (F.col("l") * (F.col("l") - 1) / 2).cast("long")
    rect = (tri + F.col("l") * (F.col("d") - F.col("l"))).cast("long")
    return per_v.agg(
        F.sum(tri).alias("triangle_triplet_count"),
        F.sum(rect).alias("rectangle_triplet_count"),
        F.max(tri).alias("maximum_triangle_triplets"),
        F.max(rect).alias("maximum_rectangle_triplets"),
    )


def k_core(
    edges: DataFrame | None = None,
    k: int = 3,
    base: UndirectedGraphBase | None = None,
    max_iterations: int = 30,
) -> DataFrame:
    """k-core decomposition of the undirected simple graph: the maximal
    subgraph in which every vertex has degree ≥ k, computed by the
    standard iterative peel — drop all vertices with current degree
    below k, recompute, repeat to fixpoint (Seidman 1983; the classic
    graph-curation trim for spam/bot tendrils before community or
    embedding passes). Beyond the reference's Gelly library (which
    stops at degree/clustering metrics) but expressed in the same
    delta-iteration discipline as its ConnectedComponents.

    Returns (vertex,) — the k-core membership set. The peel tracks only
    the vertex-sized degree table: each round drops the below-k vertices
    and subtracts their edges from the survivors' degrees via two
    semi-joins against the (small, shrinking) removed set, so the edge
    frame is only ever scanned, never rewritten. Edges between two
    removed vertices only decrement rows the anti-join drops; a
    (survivor, removed) edge decrements its survivor once. The fixpoint
    is reached when no vertex is below k — the count the superstep
    driver observes on each round's checkpoint. Raises ``RuntimeError``
    when the peel is still going after ``max_iterations`` rounds.

    The peel only ever reads the canonical undirected edge set, so the
    edges-path deliberately does NOT build an ``UndirectedGraphBase``,
    whose three persisted frames would stay registered with the
    CacheManager for the session lifetime and show up in every later
    query's plan. The checkpoint materializes the edge set once without
    registering anything with the CacheManager; the checkpoint RDDs are
    reclaimed by the ContextCleaner when the loop's frames go out of
    scope. Callers that already hold a base pass it via ``base=`` and
    keep ownership of its lifetime.
    """
    if base is not None:
        if edges is not None:
            raise ValueError("pass either edges or base, not both")
        e = base.und
    elif edges is None:
        raise ValueError("pass an edge DataFrame or a prebuilt base")
    else:
        # materialized once: the first round reads it three times
        # (degree union ×2 + the semi-join source)
        e, _ = checkpoint_counting(_undirect(edges))

    def peel(deg: DataFrame, _i: int) -> DataFrame:
        removed = deg.filter(F.col("c") < k).select("x")
        dec = (
            e.join(removed.withColumnRenamed("x", "v"), "v", "left_semi")
            .select(F.col("u").alias("x"))
            .unionAll(
                e.join(
                    removed.withColumnRenamed("x", "u"), "u", "left_semi"
                ).select(F.col("v").alias("x"))
            )
            .groupBy("x")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        return (
            deg.join(removed, "x", "left_anti")
            .join(dec, "x", "left")
            .select("x", (F.col("c") - F.coalesce("d", F.lit(0))).alias("c"))
        )

    deg = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    deg, below_k = iterate(deg, peel, max_iterations, F.col("c") < k)
    if below_k:
        # a silently-truncated peel would return a non-core superset
        raise RuntimeError(
            f"k_core did not converge in {max_iterations} rounds — raise "
            "max_iterations (the peel depth exceeds the guard)"
        )
    return deg.select(F.col("x").alias("vertex"))
