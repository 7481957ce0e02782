"""Gelly graph-library declared queries (reference
``flink-libraries/flink-gelly/.../library/``):

- ``triangle_enum``        — TriangleEnumerator.java (degree-ordered
  triad build + closing-edge join)
- ``label_propagation_communities`` — LabelPropagation.java
  (scatter-gather most-frequent-label supersteps)
- ``hits_scores``          — linkanalysis/HITS.java (hub/authority with
  L2 normalization per iteration)
- ``jaccard_similarity``   — similarity/JaccardIndex.java
- ``adamic_adar_similarity`` — similarity/AdamicAdar.java
- ``local_clustering_coefficient`` / ``global_clustering_coefficient_q``
  / ``average_clustering_coefficient_q`` / ``triadic_census_q`` —
  clustering/undirected/{Local,Global,Average}ClusteringCoefficient.java
  and TriadicCensus.java (TriangleListing.java ≡ ``triangle_enum``);
  ``triangle_listing_directed_q`` / ``local_clustering_coefficient_
  directed_q`` — clustering/directed/TriangleListing.java (EdgeOrder
  bitmasks) and LocalClusteringCoefficient.java
- ``graph_summarization``  — Summarization.java (vertex groups +
  super-edges)
- ``vertex_metrics_q`` / ``edge_metrics_q`` — metric/undirected/
  {Vertex,Edge}Metrics.java; ``vertex_metrics_directed_q`` —
  metric/directed/VertexMetrics.java
- ``community_detection_labels`` — CommunityDetection.java
  (score-attenuated label propagation, Leung et al.)

Graph: the same deterministic synthetic id space the CC/SSSP pipelines
use — ``orders`` folded modulo 997 gives a general (non-bipartite)
graph whose density grows with SF (sf0.01: ~14.8k edges, ~4.4k
triangles — the driver's oracle check is discriminating, not vacuous);
``hits_scores`` runs on the customer → order-bucket bipartite graph
(hubs = customers, authorities = buckets), where HITS is actually
meaningful.

All of them are fully SQL-expressible: the iterative ones unroll their
fixed supersteps as chained CTEs (the technique proven on
pagerank/logreg/sssp), the rest are join/groupBy shapes DuckDB runs
directly. Labels/ids are exact integers; the only floats are
normalized scores and inverse-log sums, far inside the driver's
4-decimal rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.graph import (
    adamic_adar,
    hits,
    jaccard_index,
    label_propagation,
    triangles,
)
from ..tables import load
from ._util import register


#: Canonical undirected simple edges of the mod-997 social graph, as SQL.
_E_SQL = """e AS MATERIALIZED (
  SELECT DISTINCT LEAST(o_custkey % 997, o_orderkey % 997) AS u,
                  GREATEST(o_custkey % 997, o_orderkey % 997) AS v
  FROM orders WHERE o_custkey % 997 <> o_orderkey % 997
)"""

_UND_SQL = """und AS MATERIALIZED (
  SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e
)"""

#: The id-ordered triangle enumeration over the canonical edges — ONE
#: copy shared by every oracle that lists or counts triangles, so a
#: canonicalization change cannot silently drift between them.
_TRI_SQL = """tri AS MATERIALIZED (
  SELECT e1.u AS v1, e1.v AS v2, e2.v AS v3
  FROM e e1
  JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
)"""


def _social_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed edge list whose undirected simple closure is the
    mod-997 graph (the functions canonicalize internally)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        (F.col("o_custkey") % 997).alias("src"),
        (F.col("o_orderkey") % 997).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))


def _social_edges_bidir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both directions of every undirected edge — the message topology
    label propagation expects on an undirected community graph."""
    o = load(spark, sf_dir, "orders")
    canon = (
        o.select(
            F.least(F.col("o_custkey") % 997, F.col("o_orderkey") % 997).alias("u"),
            F.greatest(F.col("o_custkey") % 997, F.col("o_orderkey") % 997).alias(
                "v"
            ),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    return canon.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(canon.select(F.col("v").alias("src"), F.col("u").alias("dst")))


def triangle_enum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration (TriangleEnumerator.java)."""
    return triangles(_social_edges(spark, sf_dir))


register(
    triangle_enum,
    # id-ordered triple join — enumerates the same triangle set the
    # degree-oriented Spark plan produces, each triangle once as
    # v1 < v2 < v3.
    f"""
WITH {_E_SQL},
{_TRI_SQL}
SELECT v1, v2, v3 FROM tri
""",
)


_LP_ITERATIONS = 4


def label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Community labels after 4 LPA supersteps (LabelPropagation.java)."""
    return label_propagation(
        _social_edges_bidir(spark, sf_dir), iterations=_LP_ITERATIONS
    )


def _lp_oracle_sql(iterations: int = _LP_ITERATIONS) -> str:
    """Each superstep unrolled: candidates = neighbor labels counted per
    vertex UNION the vertex's own label at frequency 1; the new label is
    the (freq, label)-lexicographic max — ROW_NUMBER ordered by
    freq DESC, label DESC — exactly the reference's UpdateVertexLabel
    rule. Integer labels, deterministic ties: the comparison is exact."""
    steps = []
    prev = "l0"
    for i in range(1, iterations + 1):
        steps.append(
            f"""l{i} AS MATERIALIZED (
  SELECT vertex, label FROM (
    SELECT vertex, label,
           ROW_NUMBER() OVER (PARTITION BY vertex
                              ORDER BY freq DESC, label DESC) AS rn
    FROM (
      SELECT m.y AS vertex, l.label AS label, COUNT(*) AS freq
      FROM und m JOIN {prev} l ON m.x = l.vertex GROUP BY 1, 2
      UNION ALL
      SELECT vertex, label, CAST(1 AS BIGINT) FROM {prev}
    )
  ) WHERE rn = 1
)"""
        )
        prev = f"l{i}"
    return f"""
WITH {_E_SQL},
{_UND_SQL},
l0 AS (SELECT DISTINCT x AS vertex, x AS label FROM und),
{",".join(steps)}
SELECT vertex, label FROM {prev}
"""


register(label_propagation_communities, _lp_oracle_sql(), memo=False)


_HITS_ITERATIONS = 3


def hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub/authority scores on the customer → order-bucket graph
    (linkanalysis/HITS.java), 3 iterations."""
    o = load(spark, sf_dir, "orders")
    edges = o.select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") % 997 + 100000).alias("dst"),
    )
    return hits(edges, iterations=_HITS_ITERATIONS)


def _hits_oracle_sql(iterations: int = _HITS_ITERATIONS) -> str:
    """The reference's per-iteration pipeline order, unrolled: raw hub =
    Σ auth over out-edges, raw authority = Σ NEW hub over in-edges, both
    L2-normalized. Multi-edges keep their multiplicity (no DISTINCT), as
    in the Spark pipeline. Scores are ~1e-2; cross-engine summation
    drift is ~1e-15 — far inside the 4dp rounding."""
    steps = []
    prev = "h0"
    for i in range(1, iterations + 1):
        steps.append(
            f"""hr{i} AS MATERIALIZED (
  SELECT v.vertex, COALESCE(s.h, 0.0) AS h FROM v LEFT JOIN (
    SELECT e.src AS vertex, SUM(p.auth) AS h
    FROM e JOIN {prev} p ON e.dst = p.vertex GROUP BY 1
  ) s USING (vertex)
),
ar{i} AS MATERIALIZED (
  SELECT v.vertex, COALESCE(s.a, 0.0) AS a FROM v LEFT JOIN (
    SELECT e.dst AS vertex, SUM(h.h) AS a
    FROM e JOIN hr{i} h ON e.src = h.vertex GROUP BY 1
  ) s USING (vertex)
),
h{i} AS MATERIALIZED (
  SELECT hr.vertex,
         hr.h / (SELECT SQRT(SUM(h * h)) FROM hr{i}) AS hub,
         ar.a / (SELECT SQRT(SUM(a * a)) FROM ar{i}) AS auth
  FROM hr{i} hr JOIN ar{i} ar ON hr.vertex = ar.vertex
)"""
        )
        prev = f"h{i}"
    return f"""
WITH e AS MATERIALIZED (
  SELECT o_custkey AS src, o_orderkey % 997 + 100000 AS dst FROM orders
),
v AS MATERIALIZED (
  SELECT src AS vertex FROM e UNION SELECT dst FROM e
),
h0 AS (SELECT vertex, 1.0 AS hub, 1.0 AS auth FROM v),
{",".join(steps)}
SELECT vertex, hub, auth FROM {prev}
"""


register(hits_scores, _hits_oracle_sql(), memo=False)


#: Reference minimum-score option: report pairs sharing ≥ 2 neighbors.
_MIN_SHARED = 2

_PAIRS_SQL = f"""pairs AS MATERIALIZED (
  SELECT a.y AS u, b.y AS v, COUNT(*) AS shared
  FROM und a JOIN und b ON a.x = b.x AND a.y < b.y
  GROUP BY 1, 2 HAVING COUNT(*) >= {_MIN_SHARED}
)"""

_DEG_SQL = """deg AS MATERIALIZED (
  SELECT x, COUNT(*) AS d FROM und GROUP BY x
)"""


def jaccard_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard scores (similarity/JaccardIndex.java)."""
    return jaccard_index(_social_edges(spark, sf_dir), min_shared=_MIN_SHARED)


register(
    jaccard_similarity,
    f"""
WITH {_E_SQL},
{_UND_SQL},
{_PAIRS_SQL},
{_DEG_SQL}
SELECT p.u, p.v, p.shared,
       p.shared / CAST(du.d + dv.d - p.shared AS DOUBLE) AS jaccard
FROM pairs p JOIN deg du ON p.u = du.x JOIN deg dv ON p.v = dv.x
""",
)


def adamic_adar_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar scores (similarity/AdamicAdar.java)."""
    return adamic_adar(_social_edges(spark, sf_dir), min_shared=_MIN_SHARED)


register(
    adamic_adar_similarity,
    f"""
WITH {_E_SQL},
{_UND_SQL},
{_DEG_SQL}
SELECT a.y AS u, b.y AS v, COUNT(*) AS shared,
       SUM(1.0 / LN(dc.d)) AS aa
FROM und a
JOIN und b ON a.x = b.x AND a.y < b.y
JOIN deg dc ON a.x = dc.x
GROUP BY 1, 2 HAVING COUNT(*) >= {_MIN_SHARED}
""",
)


def local_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex clustering coefficient
    (clustering/undirected/LocalClusteringCoefficient.java)."""
    from ..functions.graph import clustering_coefficients

    return clustering_coefficients(_social_edges(spark, sf_dir))


register(
    local_clustering_coefficient,
    f"""
WITH {_E_SQL},
{_UND_SQL},
{_DEG_SQL},
{_TRI_SQL},
tpv AS (
  SELECT vertex, COUNT(*) AS tri_count FROM (
    SELECT v1 AS vertex FROM tri
    UNION ALL SELECT v2 FROM tri
    UNION ALL SELECT v3 FROM tri
  ) GROUP BY vertex
)
SELECT d.x AS vertex, d.d AS degree,
       COALESCE(t.tri_count, 0) AS tri_count,
       CASE WHEN d.d >= 2
            THEN COALESCE(t.tri_count, 0) / (d.d * (d.d - 1) / 2.0)
            ELSE 0.0 END AS lcc
FROM deg d LEFT JOIN tpv t ON d.x = t.vertex
""",
)


def global_clustering_coefficient_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Whole-graph triplet/triangle counts + coefficient
    (clustering/undirected/GlobalClusteringCoefficient.java)."""
    from ..functions.graph import global_clustering_coefficient

    return global_clustering_coefficient(_social_edges(spark, sf_dir))


register(
    global_clustering_coefficient_q,
    f"""
WITH {_E_SQL},
{_UND_SQL},
{_DEG_SQL},
{_TRI_SQL},
tcount AS (SELECT COUNT(*) AS triangle_count FROM tri)
SELECT CAST((SELECT SUM(d * (d - 1) / 2) FROM deg) AS BIGINT) AS triplet_count,
       (SELECT triangle_count FROM tcount) AS triangle_count,
       3.0 * (SELECT triangle_count FROM tcount)
         / (SELECT SUM(d * (d - 1) / 2) FROM deg) AS gcc
""",
)


#: Vertex group value for summarization: id mod 10 — ten deterministic
#: groups at every SF.
_SUMM_MOD = 10


def graph_summarization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertex-group / super-edge condensation (Summarization.java):
    groups keyed on vertex id mod 10, represented by the group-minimum
    id; multi-edges between groups merge with a count."""
    from ..functions.graph import summarize

    return summarize(
        _social_edges(spark, sf_dir), vertex_label=F.col("vertex") % _SUMM_MOD
    )


register(
    graph_summarization,
    # The Spark pipeline summarizes the DIRECTED social edge list (the
    # reference condenses the graph as given, not its undirected
    # closure), so the oracle rebuilds the same directed edges.
    f"""
WITH de AS MATERIALIZED (
  SELECT o_custkey % 997 AS src, o_orderkey % 997 AS dst
  FROM orders WHERE o_custkey % 997 <> o_orderkey % 997
),
vtx AS (
  SELECT DISTINCT vertex, vertex % {_SUMM_MOD} AS grp FROM (
    SELECT src AS vertex FROM de UNION SELECT dst FROM de
  )
),
reps AS (SELECT grp, MIN(vertex) AS rep FROM vtx GROUP BY grp),
v2r AS (SELECT v.vertex, v.grp, r.rep FROM vtx v JOIN reps r ON v.grp = r.grp)
SELECT s.grp AS src_group, t.grp AS dst_group,
       s.rep AS src_rep, t.rep AS dst_rep,
       COUNT(*) AS edge_count
FROM de
JOIN v2r s ON de.src = s.vertex
JOIN v2r t ON de.dst = t.vertex
GROUP BY 1, 2, 3, 4
""",
)


def vertex_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar vertex metrics of the social graph
    (metric/undirected/VertexMetrics.java)."""
    from ..functions.graph import vertex_metrics

    return vertex_metrics(_social_edges(spark, sf_dir))


register(
    vertex_metrics_q,
    f"""
WITH {_E_SQL},
{_UND_SQL},
{_DEG_SQL}
SELECT CAST(COUNT(*) AS BIGINT) AS vertex_count,
       CAST(SUM(d) / 2 AS BIGINT) AS edge_count,
       CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS triplet_count,
       CAST(MAX(d) AS BIGINT) AS maximum_degree,
       CAST(MAX(d * (d - 1) / 2) AS BIGINT) AS maximum_triplets
FROM deg
""",
)


_CD_ITERATIONS, _CD_DELTA = 2, 0.5


def community_detection_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-attenuated communities (CommunityDetection.java), 2
    supersteps at delta 0.5 — parameters under which every score is a
    dyadic rational and the oracle comparison is exact."""
    from ..functions.graph import community_detection

    return community_detection(
        _social_edges(spark, sf_dir),
        iterations=_CD_ITERATIONS,
        delta=_CD_DELTA,
    )


def _cd_oracle_sql(iterations: int = _CD_ITERATIONS, delta: float = _CD_DELTA) -> str:
    """Supersteps unrolled; the argmax is ROW_NUMBER ordered
    (total DESC, label ASC) — the reference's ascending-TreeMap strict->
    scan. Scores are dyadic (1.0, ±0.5, ±0.25 combinations), so SUM
    order cannot perturb the comparison."""
    steps = []
    prev = "s0"
    for i in range(1, iterations + 1):
        steps.append(
            f"""a{i} AS MATERIALIZED (
  SELECT m.y AS vertex, s.label, SUM(s.score) AS total, MAX(s.score) AS best
  FROM und m JOIN {prev} s ON m.x = s.vertex GROUP BY 1, 2
),
p{i} AS MATERIALIZED (
  SELECT vertex, label AS new_label, best FROM (
    SELECT vertex, label, best,
           ROW_NUMBER() OVER (PARTITION BY vertex
                              ORDER BY total DESC, label ASC) AS rn
    FROM a{i}
  ) WHERE rn = 1
),
s{i} AS MATERIALIZED (
  SELECT v.vertex,
         COALESCE(p.new_label, v.label) AS label,
         CASE WHEN p.vertex IS NULL THEN v.score
              WHEN p.new_label <> v.label THEN p.best - {delta} / {i}
              ELSE p.best END AS score
  FROM {prev} v LEFT JOIN p{i} p ON v.vertex = p.vertex
)"""
        )
        prev = f"s{i}"
    return f"""
WITH {_E_SQL},
{_UND_SQL},
s0 AS (SELECT DISTINCT x AS vertex, x AS label, 1.0 AS score FROM und),
{",".join(steps)}
SELECT vertex, label FROM {prev}
"""


register(community_detection_labels, _cd_oracle_sql(), memo=False)


def edge_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar edge metrics of the social graph
    (metric/undirected/EdgeMetrics.java)."""
    from ..functions.graph import edge_metrics

    return edge_metrics(_social_edges(spark, sf_dir))


register(
    edge_metrics_q,
    f"""
WITH {_E_SQL},
{_UND_SQL},
{_DEG_SQL},
pv AS (
  SELECT w.x AS vertex, ANY_VALUE(da.d) AS d,
         SUM(CASE WHEN da.d < db.d OR (da.d = db.d AND w.x < w.y)
                  THEN 1 ELSE 0 END) AS l
  FROM und w
  JOIN deg da ON w.x = da.x
  JOIN deg db ON w.y = db.x
  GROUP BY w.x
)
SELECT CAST(SUM(l * (l - 1) / 2) AS BIGINT) AS triangle_triplet_count,
       CAST(SUM(l * (l - 1) / 2 + l * (d - l)) AS BIGINT)
         AS rectangle_triplet_count,
       CAST(MAX(l * (l - 1) / 2) AS BIGINT) AS maximum_triangle_triplets,
       CAST(MAX(l * (l - 1) / 2 + l * (d - l)) AS BIGINT)
         AS maximum_rectangle_triplets
FROM pv
""",
)


def average_clustering_coefficient_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mean local clustering of the social graph
    (clustering/undirected/AverageClusteringCoefficient.java)."""
    from ..functions.graph import average_clustering_coefficient

    return average_clustering_coefficient(_social_edges(spark, sf_dir))


register(
    average_clustering_coefficient_q,
    f"""
WITH {_E_SQL},
{_UND_SQL},
{_DEG_SQL},
tri AS (
  SELECT e1.u AS v1, e1.v AS v2, e2.v AS v3
  FROM e e1
  JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
),
tpv AS (
  SELECT vertex, COUNT(*) AS tc FROM (
    SELECT v1 AS vertex FROM tri
    UNION ALL SELECT v2 FROM tri
    UNION ALL SELECT v3 FROM tri
  ) GROUP BY vertex
),
lcc AS (
  SELECT d.x, CASE WHEN d.d >= 2
                   THEN COALESCE(t.tc, 0) / (d.d * (d.d - 1) / 2.0)
                   ELSE 0.0 END AS lcc
  FROM deg d LEFT JOIN tpv t ON d.x = t.vertex
)
SELECT CAST(COUNT(*) AS BIGINT) AS vertex_count,
       SUM(lcc) AS sum_lcc,
       SUM(lcc) / COUNT(*) AS acc
FROM lcc
""",
)


def triadic_census_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form undirected triadic census
    (clustering/undirected/TriadicCensus.java).

    A pure-lazy composition over the shared persisted graph base, but
    its closed-form expression tree costs ~0.4 s of driver-side
    analysis per build, which the registry's session memo saves.
    """
    from ..functions.graph import triadic_census

    return triadic_census(_social_edges(spark, sf_dir))


register(
    triadic_census_q,
    f"""
WITH {_E_SQL},
{_UND_SQL},
{_DEG_SQL},
{_TRI_SQL},
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(d) / 2 AS BIGINT) AS m,
         CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS w
  FROM deg
),
t AS (SELECT COUNT(*) AS t FROM tri)
SELECT CAST(n * (n - 1) * (n - 2) / 6
            - (m.m * (n - 2) - 2 * (w - 3 * t.t) - 3 * t.t)
            - (w - 3 * t.t) - t.t AS BIGINT) AS triads_03,
       CAST(m.m * (n - 2) - 2 * (w - 3 * t.t) - 3 * t.t AS BIGINT)
         AS triads_12,
       CAST(w - 3 * t.t AS BIGINT) AS triads_21,
       CAST(t.t AS BIGINT) AS triads_30
FROM m, t
""",
)


def vertex_metrics_directed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed vertex metrics of the (directed) social edge list
    (metric/directed/VertexMetrics.java)."""
    from ..functions.graph import vertex_metrics_directed

    return vertex_metrics_directed(_social_edges(spark, sf_dir))


register(
    vertex_metrics_directed_q,
    """
WITH de AS MATERIALIZED (
  SELECT DISTINCT o_custkey % 997 AS s, o_orderkey % 997 AS d
  FROM orders WHERE o_custkey % 997 <> o_orderkey % 997
),
outs AS (SELECT s AS vertex, COUNT(*) AS outd FROM de GROUP BY s),
ins AS (SELECT d AS vertex, COUNT(*) AS ind FROM de GROUP BY d),
degs AS (
  SELECT vertex, COUNT(*) AS deg FROM (
    SELECT DISTINCT s AS vertex, d AS nbr FROM de
    UNION SELECT d, s FROM de
  ) GROUP BY vertex
),
pv AS (
  SELECT degs.vertex, deg,
         COALESCE(outs.outd, 0) AS outd,
         COALESCE(ins.ind, 0) AS ind,
         COALESCE(outs.outd, 0) + COALESCE(ins.ind, 0) - deg AS bidi
  FROM degs
  LEFT JOIN outs ON degs.vertex = outs.vertex
  LEFT JOIN ins ON degs.vertex = ins.vertex
)
SELECT CAST(COUNT(*) AS BIGINT) AS vertex_count,
       CAST(SUM(deg - bidi) / 2 AS BIGINT) AS unidirectional_edge_count,
       CAST(SUM(bidi) / 2 AS BIGINT) AS bidirectional_edge_count,
       CAST(SUM(deg * (deg - 1) / 2) AS BIGINT) AS triplet_count,
       CAST(MAX(deg) AS BIGINT) AS maximum_degree,
       CAST(MAX(outd) AS BIGINT) AS maximum_out_degree,
       CAST(MAX(ind) AS BIGINT) AS maximum_in_degree,
       CAST(MAX(deg * (deg - 1) / 2) AS BIGINT) AS maximum_triplets
FROM pv
""",
)


def triangle_listing_directed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed triangle listing with EdgeOrder bitmasks
    (clustering/directed/TriangleListing.java)."""
    from ..functions.graph import triangle_listing_directed

    return triangle_listing_directed(_social_edges(spark, sf_dir))


register(
    triangle_listing_directed_q,
    f"""
WITH de AS MATERIALIZED (
  SELECT DISTINCT o_custkey % 997 AS s, o_orderkey % 997 AS d
  FROM orders WHERE o_custkey % 997 <> o_orderkey % 997
),
pm AS MATERIALIZED (
  SELECT LEAST(s, d) AS a, GREATEST(s, d) AS b,
         BIT_OR(CASE WHEN s < d THEN 2 ELSE 1 END) AS m
  FROM de GROUP BY 1, 2
),
{_E_SQL},
{_TRI_SQL}
SELECT t.v1, t.v2, t.v3,
       p12.m * 16 + p13.m * 4 + p23.m AS bitmask
FROM tri t
JOIN pm p12 ON t.v1 = p12.a AND t.v2 = p12.b
JOIN pm p13 ON t.v1 = p13.a AND t.v3 = p13.b
JOIN pm p23 ON t.v2 = p23.a AND t.v3 = p23.b
""",
)


def local_clustering_coefficient_directed_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Directed per-vertex clustering
    (clustering/directed/LocalClusteringCoefficient.java)."""
    from ..functions.graph import local_clustering_coefficient_directed

    return local_clustering_coefficient_directed(_social_edges(spark, sf_dir))


register(
    local_clustering_coefficient_directed_q,
    f"""
WITH de AS MATERIALIZED (
  SELECT DISTINCT o_custkey % 997 AS s, o_orderkey % 997 AS d
  FROM orders WHERE o_custkey % 997 <> o_orderkey % 997
),
pm AS MATERIALIZED (
  SELECT LEAST(s, d) AS a, GREATEST(s, d) AS b,
         BIT_OR(CASE WHEN s < d THEN 2 ELSE 1 END) AS m
  FROM de GROUP BY 1, 2
),
{_E_SQL},
{_TRI_SQL},
tl AS MATERIALIZED (
  SELECT t.v1, t.v2, t.v3,
         p12.m AS m12, p13.m AS m13, p23.m AS m23
  FROM tri t
  JOIN pm p12 ON t.v1 = p12.a AND t.v2 = p12.b
  JOIN pm p13 ON t.v1 = p13.a AND t.v3 = p13.b
  JOIN pm p23 ON t.v2 = p23.a AND t.v3 = p23.b
),
contrib AS (
  SELECT v1 AS vertex, CASE WHEN m23 = 3 THEN 2 ELSE 1 END AS c FROM tl
  UNION ALL
  SELECT v2, CASE WHEN m13 = 3 THEN 2 ELSE 1 END FROM tl
  UNION ALL
  SELECT v3, CASE WHEN m12 = 3 THEN 2 ELSE 1 END FROM tl
),
counts AS (SELECT vertex, SUM(c) AS tri_count FROM contrib GROUP BY vertex),
deg AS (
  SELECT vertex, COUNT(*) AS degree FROM (
    SELECT DISTINCT s AS vertex, d AS nbr FROM de
    UNION SELECT d, s FROM de
  ) GROUP BY vertex
)
SELECT d.vertex, CAST(d.degree AS BIGINT) AS degree,
       CAST(COALESCE(c.tri_count, 0) AS BIGINT) AS tri_count,
       CASE WHEN d.degree >= 2
            THEN COALESCE(c.tri_count, 0)
                 / CAST(d.degree * (d.degree - 1) AS DOUBLE)
            ELSE 0.0 END AS lcc
FROM deg d LEFT JOIN counts c ON d.vertex = c.vertex
""",
)


# ---------------------------------------------------------------------------
# Directed clustering/metric completion (round 4): the four remaining
# files of flink-gelly's clustering/directed and metric/directed
# packages, closed-form over the EdgeOrder-bitmask infrastructure.
# ---------------------------------------------------------------------------

#: Shared directed-graph CTEs: simple directed edges, canonical pair
#: direction masks, and distinct-neighbor degrees.
_DE_SQL = """de AS MATERIALIZED (
  SELECT DISTINCT o_custkey % 997 AS s, o_orderkey % 997 AS d
  FROM orders WHERE o_custkey % 997 <> o_orderkey % 997
)"""

_DDEG_SQL = """ddeg AS MATERIALIZED (
  SELECT vertex, COUNT(*) AS deg FROM (
    SELECT DISTINCT s AS vertex, d AS nbr FROM de
    UNION SELECT d, s FROM de
  ) GROUP BY vertex
)"""


def global_clustering_coefficient_directed_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Directed whole-graph clustering of the social edge list
    (clustering/directed/GlobalClusteringCoefficient.java)."""
    from ..functions.graph import global_clustering_coefficient_directed

    return global_clustering_coefficient_directed(_social_edges(spark, sf_dir))


register(
    global_clustering_coefficient_directed_q,
    f"""
WITH {_DE_SQL},
{_DDEG_SQL},
{_E_SQL},
{_TRI_SQL},
tp AS (SELECT CAST(SUM(deg * (deg - 1) / 2) AS BIGINT) AS triplet_count
       FROM ddeg),
tc AS (SELECT CAST(3 * COUNT(*) AS BIGINT) AS triangle_count FROM tri)
SELECT triplet_count, triangle_count,
       CASE WHEN triplet_count > 0
            THEN triangle_count / CAST(triplet_count AS DOUBLE) END AS gcc
FROM tp, tc
""",
)


def average_clustering_coefficient_directed_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Directed mean local clustering of the social edge list
    (clustering/directed/AverageClusteringCoefficient.java)."""
    from ..functions.graph import average_clustering_coefficient_directed

    return average_clustering_coefficient_directed(_social_edges(spark, sf_dir))


register(
    average_clustering_coefficient_directed_q,
    f"""
WITH {_DE_SQL},
pm AS MATERIALIZED (
  SELECT LEAST(s, d) AS a, GREATEST(s, d) AS b,
         BIT_OR(CASE WHEN s < d THEN 2 ELSE 1 END) AS m
  FROM de GROUP BY 1, 2
),
{_E_SQL},
{_TRI_SQL},
tl AS MATERIALIZED (
  SELECT t.v1, t.v2, t.v3, p12.m AS m12, p13.m AS m13, p23.m AS m23
  FROM tri t
  JOIN pm p12 ON t.v1 = p12.a AND t.v2 = p12.b
  JOIN pm p13 ON t.v1 = p13.a AND t.v3 = p13.b
  JOIN pm p23 ON t.v2 = p23.a AND t.v3 = p23.b
),
contrib AS (
  SELECT v1 AS vertex, CASE WHEN m23 = 3 THEN 2 ELSE 1 END AS c FROM tl
  UNION ALL SELECT v2, CASE WHEN m13 = 3 THEN 2 ELSE 1 END FROM tl
  UNION ALL SELECT v3, CASE WHEN m12 = 3 THEN 2 ELSE 1 END FROM tl
),
counts AS (SELECT vertex, SUM(c) AS tri_count FROM contrib GROUP BY vertex),
{_DDEG_SQL},
lcc AS (
  SELECT g.deg, CASE WHEN g.deg >= 2
                     THEN COALESCE(c.tri_count, 0)
                          / CAST(g.deg * (g.deg - 1) AS DOUBLE)
                     ELSE 0.0 END AS lcc
  FROM ddeg g LEFT JOIN counts c ON g.vertex = c.vertex
)
SELECT CAST(COUNT(*) AS BIGINT) AS vertex_count,
       SUM(CASE WHEN deg > 1 THEN lcc ELSE 0.0 END) AS sum_lcc,
       SUM(CASE WHEN deg > 1 THEN lcc ELSE 0.0 END) / COUNT(*) AS acc
FROM lcc
""",
)


def triadic_census_directed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed 16-class triadic census of the social edge list
    (clustering/directed/TriadicCensus.java).

    Pure-lazy, but the 16-class mask-carrying wedge expressions measured
    ~0.9 s of driver-side analysis per build, which the registry's
    session memo saves.
    """
    from ..functions.graph import triadic_census_directed

    return triadic_census_directed(_social_edges(spark, sf_dir))


def _triadic_census_directed_sql() -> str:
    from ..functions.graph import _TRIAD_TYPE_TABLE

    table = "[" + ", ".join(str(t) for t in _TRIAD_TYPE_TABLE) + "]"
    return f"""
WITH {_DE_SQL},
pm AS MATERIALIZED (
  SELECT LEAST(s, d) AS a, GREATEST(s, d) AS b,
         BIT_OR(CASE WHEN s < d THEN 2 ELSE 1 END) AS m
  FROM de GROUP BY 1, 2
),
{_E_SQL},
{_TRI_SQL},
cls AS MATERIALIZED (
  SELECT ({table})[p12.m * 16 + p13.m * 4 + p23.m + 1] AS cls
  FROM tri t
  JOIN pm p12 ON t.v1 = p12.a AND t.v2 = p12.b
  JOIN pm p13 ON t.v1 = p13.a AND t.v3 = p13.b
  JOIN pm p23 ON t.v2 = p23.a AND t.v3 = p23.b
),
ts AS (
  SELECT SUM(CASE WHEN cls = 9 THEN 1 ELSE 0 END) AS t030t,
         SUM(CASE WHEN cls = 10 THEN 1 ELSE 0 END) AS t030c,
         SUM(CASE WHEN cls = 12 THEN 1 ELSE 0 END) AS t120d,
         SUM(CASE WHEN cls = 13 THEN 1 ELSE 0 END) AS t120u,
         SUM(CASE WHEN cls = 14 THEN 1 ELSE 0 END) AS t120c,
         SUM(CASE WHEN cls = 15 THEN 1 ELSE 0 END) AS t210,
         SUM(CASE WHEN cls = 16 THEN 1 ELSE 0 END) AS t300
  FROM cls
),
outs AS (SELECT s AS vertex, COUNT(*) AS outd FROM de GROUP BY s),
ins AS (SELECT d AS vertex, COUNT(*) AS ind FROM de GROUP BY d),
{_DDEG_SQL},
pv AS (
  SELECT g.deg - COALESCE(i.ind, 0) AS us,
         g.deg - COALESCE(o.outd, 0) AS ut,
         COALESCE(o.outd, 0) + COALESCE(i.ind, 0) - g.deg AS bi
  FROM ddeg g
  LEFT JOIN outs o ON g.vertex = o.vertex
  LEFT JOIN ins i ON g.vertex = i.vertex
),
vs AS (
  SELECT COUNT(*) AS n,
         SUM(us + ut) / 2 AS uec, SUM(bi) / 2 AS bec,
         SUM(us * (us - 1) / 2) AS p021d,
         SUM(ut * (ut - 1) / 2) AS p021u,
         SUM(us * ut) AS p021c,
         SUM(ut * bi) AS p111d,
         SUM(us * bi) AS p111u,
         SUM(bi * (bi - 1) / 2) AS p201
  FROM pv
),
open_t AS (
  SELECT n, uec, bec, t030t, t030c, t120d, t120u, t120c, t210, t300,
         p201 - 3 * t300 - t210 AS c201,
         p111d - t210 - t120c - 2 * t120d AS c111d,
         p111u - t210 - t120c - 2 * t120u AS c111u,
         p021c - t120c - 3 * t030c - t030t AS c021c,
         p021u - t120u - t030t AS c021u,
         p021d - t120d - t030t AS c021d
  FROM vs, ts
),
edge_t AS (
  SELECT *,
         bec * (n - 2) - c111d - c111u - 2 * c201
           - t120d - t120u - t120c - 2 * t210 - 3 * t300 AS c102,
         uec * (n - 2) - 2 * (c021d + c021u + c021c) - c111d - c111u
           - 3 * (t030t + t030c) - 2 * (t120d + t120u + t120c)
           - t210 AS c012
  FROM open_t
)
SELECT CAST(n * (n - 1) * (n - 2) / 6 - c012 - c102
            - c021d - c021u - c021c - c111d - c111u - t030t - t030c
            - c201 - t120d - t120u - t120c - t210 - t300 AS BIGINT)
         AS triads_003,
       CAST(c012 AS BIGINT) AS triads_012,
       CAST(c102 AS BIGINT) AS triads_102,
       CAST(c021d AS BIGINT) AS triads_021d,
       CAST(c021u AS BIGINT) AS triads_021u,
       CAST(c021c AS BIGINT) AS triads_021c,
       CAST(c111d AS BIGINT) AS triads_111d,
       CAST(c111u AS BIGINT) AS triads_111u,
       CAST(t030t AS BIGINT) AS triads_030t,
       CAST(t030c AS BIGINT) AS triads_030c,
       CAST(c201 AS BIGINT) AS triads_201,
       CAST(t120d AS BIGINT) AS triads_120d,
       CAST(t120u AS BIGINT) AS triads_120u,
       CAST(t120c AS BIGINT) AS triads_120c,
       CAST(t210 AS BIGINT) AS triads_210,
       CAST(t300 AS BIGINT) AS triads_300
FROM edge_t
"""


register(triadic_census_directed_q, _triadic_census_directed_sql())


def edge_metrics_directed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed edge metrics of the social edge list
    (metric/directed/EdgeMetrics.java)."""
    from ..functions.graph import edge_metrics_directed

    return edge_metrics_directed(_social_edges(spark, sf_dir))


register(
    edge_metrics_directed_q,
    f"""
WITH {_DE_SQL},
und2 AS MATERIALIZED (
  SELECT DISTINCT LEAST(s, d) AS x, GREATEST(s, d) AS y FROM de
),
w AS (SELECT x, y FROM und2 UNION ALL SELECT y, x FROM und2),
dg AS (SELECT x AS vertex, COUNT(*) AS dd FROM w GROUP BY x),
pv AS (
  SELECT w.x AS vertex, ANY_VALUE(da.dd) AS d,
         SUM(CASE WHEN da.dd < db.dd OR (da.dd = db.dd AND w.x < w.y)
                  THEN 1 ELSE 0 END) AS l
  FROM w
  JOIN dg da ON w.x = da.vertex
  JOIN dg db ON w.y = db.vertex
  GROUP BY w.x
)
SELECT CAST(SUM(l * (l - 1) / 2) AS BIGINT) AS triangle_triplet_count,
       CAST(SUM(l * (l - 1) / 2 + l * (d - l)) AS BIGINT)
         AS rectangle_triplet_count,
       CAST(MAX(l * (l - 1) / 2) AS BIGINT) AS maximum_triangle_triplets,
       CAST(MAX(l * (l - 1) / 2 + l * (d - l)) AS BIGINT)
         AS maximum_rectangle_triplets
FROM pv
""",
)


# ---------------------------------------------------------------------------
# Bipartite projection (bipartite/BipartiteGraph.java
# projectionTopSimple): the part ↔ supplier bipartite graph from
# lineitem, projected onto suppliers — two suppliers are linked iff
# they ship at least one common part, weighted by the number of shared
# parts. One self-join of the distinct edge set on the part key, then a
# groupBy on the supplier pair: both shuffles are keyed and the src<dst
# canonicalization emits each pair once.
# ---------------------------------------------------------------------------
def bipartite_projection_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Registered with memo=False: the build runs the eager
    # localCheckpoint below, and a memoized plan would pin those blocks
    # with no way to rebuild them after executor loss.
    from ..functions.bipartite import BipartiteGraph

    # Round 12 (guide §5): the projection self-join references the
    # distinct edge set on BOTH sides (one under a BroadcastExchange,
    # so ReuseExchange cannot dedup them) — localCheckpoint
    # materializes the lineitem scan + distinct once; both join sides
    # read the cached partitions. (A bucket/pair-array rewrite was
    # tried first and measured 71% SLOWER than the codegen'd join
    # probe — struct-array construction per bucket dominates.)
    e = (
        load(spark, sf_dir, "lineitem")
        .select(
            F.col("l_suppkey").alias("top_id"),
            F.col("l_partkey").alias("bottom_id"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    g = BipartiteGraph.from_edges(e).projection_top_simple(canonical=True)
    return g.edges.select(
        F.col("src").alias("supp_a"),
        F.col("dst").alias("supp_b"),
        F.col("value").alias("shared_parts"),
    )


register(
    bipartite_projection_suppliers,
    """
WITH e AS (
  SELECT DISTINCT l_suppkey AS supp, l_partkey AS part FROM lineitem
)
SELECT a.supp AS supp_a, b.supp AS supp_b,
       CAST(COUNT(*) AS BIGINT) AS shared_parts
FROM e a
JOIN e b ON a.part = b.part AND a.supp < b.supp
GROUP BY a.supp, b.supp
""",
    memo=False,
)


# ---------------------------------------------------------------------------
# asm degree annotation as a driver-checkable query
# (asm/degree/annotate/directed/VertexDegrees.java): the per-vertex
# (degree, out, in) triple on the social graph — degree counts DISTINCT
# neighbors (a mutual pair is one neighbor), out/in count simple
# directed edges.
# ---------------------------------------------------------------------------
def asm_vertex_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.asm import vertex_degrees

    return vertex_degrees(_social_edges(spark, sf_dir))


register(
    asm_vertex_degrees,
    # ddeg is the SHARED distinct-neighbor degree CTE (_DDEG_SQL) the
    # directed metric oracles already use — one definition to fix if
    # e.g. self-loop handling ever changes
    f"""
WITH {_DE_SQL},
{_DDEG_SQL},
outd AS (SELECT s AS vertex, COUNT(*) AS out_degree FROM de GROUP BY s),
ind AS (SELECT d AS vertex, COUNT(*) AS in_degree FROM de GROUP BY d)
SELECT n.vertex AS id, n.deg AS degree,
       COALESCE(o.out_degree, 0) AS out_degree,
       COALESCE(i.in_degree, 0) AS in_degree
FROM ddeg n
LEFT JOIN outd o ON n.vertex = o.vertex
LEFT JOIN ind i ON n.vertex = i.vertex
""",
)


# ---------------------------------------------------------------------------
# Generator differential (generator/HypercubeGraph.java): our
# grid-composition construction of the d-cube vs DuckDB's INDEPENDENT
# definition (vertices adjacent iff their ids differ in exactly one
# bit). 2^10 vertices, each with out-degree 10 — the query emits every
# (vertex, out_degree) row, so the edge set itself is differentially
# pinned (a wrong increment or a dropped dimension changes some
# vertex's degree or the vertex set).
# ---------------------------------------------------------------------------
_HYPERCUBE_DIMS = 10


def generator_hypercube_degrees(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..functions.generators import hypercube_graph

    g = hypercube_graph(spark, _HYPERCUBE_DIMS)
    return (
        g.edges.groupBy(F.col("src").alias("vertex_id"))
        .agg(F.count(F.lit(1)).alias("out_degree"))
    )


register(
    generator_hypercube_degrees,
    f"""
WITH v AS (SELECT i FROM range({2 ** _HYPERCUBE_DIMS}) t(i)),
e AS (
  SELECT a.i AS src, b.i AS dst
  FROM v a JOIN v b ON bit_count(xor(a.i, b.i)) = 1
)
SELECT src AS vertex_id, CAST(COUNT(*) AS BIGINT) AS out_degree
FROM e GROUP BY src
""",
)


KCORE_K = 20
_KCORE_UNROLL = 6


def kcore_social(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core membership of the social graph at k=20 (graph-curation
    peel; discriminating at sf0.01 — 975 of 997 vertices survive after
    3 peel rounds — and empty at sf0.001, both exact)."""
    from ..functions.graph import k_core

    return k_core(_social_edges(spark, sf_dir), k=KCORE_K)


def _kcore_oracle_sql(k: int = KCORE_K, rounds: int = _KCORE_UNROLL) -> str:
    """The peel unrolled as chained CTEs: per round, degrees of the
    surviving edge set, the >= k keep set, then the edge filter. The
    unroll depth exceeds the measured fixpoint at every test SF (max 3
    rounds at k=20; tests/test_graph.py pins that one more round is a
    no-op, so the unroll IS the fixpoint)."""
    # every CTE is MATERIALIZED: each e_i is referenced three times by
    # round i+1, so un-materialized inlining re-evaluates the chain
    # exponentially in the unroll depth (measured: >10 min un-hinted,
    # sub-second materialized)
    parts = [f"WITH {_E_SQL},", "e0 AS MATERIALIZED (SELECT u, v FROM e)"]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(f""",
d{i} AS MATERIALIZED (
  SELECT x, COUNT(*) AS c FROM (
    SELECT u AS x FROM e{p} UNION ALL SELECT v AS x FROM e{p}
  ) GROUP BY x
),
k{i} AS MATERIALIZED (SELECT x FROM d{i} WHERE c >= {k}),
e{i} AS MATERIALIZED (
  SELECT u, v FROM e{p}
  WHERE u IN (SELECT x FROM k{i}) AND v IN (SELECT x FROM k{i})
)""")
    parts.append(f"""
SELECT DISTINCT x AS vertex FROM (
  SELECT u AS x FROM e{rounds} UNION ALL SELECT v AS x FROM e{rounds}
)""")
    return "".join(parts)


register(kcore_social, _kcore_oracle_sql(), memo=False)


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002, eq. 4): the
    Pearson correlation of the degrees at either end of an edge,
    computed over both orientations of every undirected edge — do
    hubs attach to hubs? One row: r, the half-edge count, and the
    mean neighbor degree.

    Plan / 100 TB: degrees are one keyed aggregate over the canonical
    edge table; the correlation moments are one aggregate over the
    degree-joined half-edges (two hash joins on the vertex key). All
    moments are exact INTEGER sums — the closed form is
    engine-identical. No windows, no driver iteration."""
    o = load(spark, sf_dir, "orders")
    canon = (
        o.select(
            F.least(F.col("o_custkey") % 997, F.col("o_orderkey") % 997)
            .alias("u"),
            F.greatest(F.col("o_custkey") % 997, F.col("o_orderkey") % 997)
            .alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    und = canon.select(F.col("u").alias("x"), F.col("v").alias("y")).unionAll(
        canon.select(F.col("v").alias("x"), F.col("u").alias("y"))
    )
    deg = und.groupBy("x").agg(F.count(F.lit(1)).alias("d"))
    half = (
        und.join(deg.select(F.col("x"), F.col("d").alias("dx")), "x")
        .join(
            deg.select(F.col("x").alias("y"), F.col("d").alias("dy")), "y"
        )
    )
    mom = half.agg(
        F.count(F.lit(1)).alias("m2"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    num = F.col("m2") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("m2") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
        * (F.col("m2") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return mom.select(
        F.col("m2").alias("n_half_edges"),
        (F.col("sy") / F.col("m2")).alias("mean_neighbor_degree"),
        F.when(den > 0, num.cast("double") / den).alias("assortativity"),
    )


register(
    graph_assortativity,
    f"""
WITH {_E_SQL},
{_UND_SQL},
deg AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY 1
),
half AS (
  SELECT a.d AS dx, b.d AS dy
  FROM und JOIN deg a ON a.x = und.x
           JOIN deg b ON b.x = und.y
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m2,
         CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
         CAST(SUM(dx * dy) AS BIGINT) AS sxy,
         CAST(SUM(dx * dx) AS BIGINT) AS sxx,
         CAST(SUM(dy * dy) AS BIGINT) AS syy
  FROM half
)
SELECT m2 AS n_half_edges,
       sy * 1.0 / m2 AS mean_neighbor_degree,
       CASE WHEN (CAST(m2 * sxx - sx * sx AS DOUBLE)
                  * CAST(m2 * syy - sy * sy AS DOUBLE)) > 0
            THEN CAST(m2 * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(m2 * sxx - sx * sx AS DOUBLE)
                        * CAST(m2 * syy - sy * sy AS DOUBLE)) END
         AS assortativity
FROM mom
""",
)
