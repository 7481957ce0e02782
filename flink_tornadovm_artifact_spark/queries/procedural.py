"""Procedural-pipeline declared queries (SURVEY.md §2.J, last paragraph).

The reference's benchmark programs (§6) re-expressed as ``queries()``
entries over the driver testdata so the correctness gate sees them every
round:

- ``vector_add_kernel``   — TestVectorAddition.java:67 (Arrow map kernel)
- ``matmul_rows_kernel``  — TestMatrixMultiplication.java:77 (row map ×
  broadcast matrix)
- ``pi_estimation_weyl``  — TestPiEstimation.java:52-58 (map sample +
  reduce sum)
- ``dft_events``          — TestDFT.java:83 (map over indices with
  broadcast signal; also golden-tested against NumPy in
  tests/test_kernels.py)
- ``kmeans_pipeline``     — KMeans.java:118-128 (bulk iteration)
- ``logreg_pipeline``     — LogisticRegression.java:71-88 (SGD loop)
- ``pagerank_pipeline``   — graph/PageRank.java (bulk iteration)
- ``connected_components_pipeline`` — graph/ConnectedComponents.java
  (delta iteration)
- ``sssp_pipeline``       — flink-gelly/.../library/
  SingleSourceShortestPaths.java (delta iteration, Gelly library)

Oracle policy: every query here is checked against a DuckDB oracle.
The three kernels whose math is order-independent or bit-reproducible
across engines (vadd, matmul at 4 dp, Weyl-sequence pi) are checked
against the same math in SQL; ``dft_events`` against the definition DFT
in the kernel's angle-expression order (engines differ by last-ulp trig
only); k-means, logistic regression, PageRank and SSSP against their
loops unrolled as chained CTEs in the same float expression order; and
connected components against an exact recursive-CTE closure. The
pipelines are also golden-tested against NumPy in tests/ — mirroring the
reference's CPU-vs-GPU self-verification.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.graph import connected_components, pagerank, sssp
from ..functions.kernels import dft, matmul_rows, vector_add
from ..functions.kmeans import kmeans
from ..functions.logreg import train
from ..queries.ml import CENTROIDS
from ..tables import load
from ._util import register


# ---------------------------------------------------------------------------
# Vector addition (Arrow kernel): s = value + cast(user_id as double).
# IEEE double addition is a single op — bit-identical in NumPy and DuckDB.
# ---------------------------------------------------------------------------
def vector_add_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", F.col("value").alias("a"), F.col("user_id").cast("double").alias("b")
    )
    return vector_add(ev, "a", "b", out="s", keep=("event_id",))


register(
    vector_add_kernel,
    """
SELECT event_id, value + CAST(user_id AS DOUBLE) AS s FROM events
""",
)


# ---------------------------------------------------------------------------
# Row-wise matrix multiply: each embedding row (64-d) × a fixed 64×8
# matrix M[j,k] = ((j*8+k) % 7) - 3, broadcast once per executor.
# BLAS accumulation order differs from DuckDB's sequential list_sum by
# ~1e-13 relative, so the output is UNNESTED to scalar rows (vec_id, k,
# mm): the driver's round-then-hash treatment of scalar doubles is
# proven (round-1 greens); its treatment of floats inside arrays is not.
# ---------------------------------------------------------------------------
_MM_D, _MM_K = 64, 8


def _mm_matrix() -> np.ndarray:
    j = np.arange(_MM_D)[:, None]
    k = np.arange(_MM_K)[None, :]
    return (((j * _MM_K + k) % 7) - 3).astype(np.float64)


def matmul_rows_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("mm")
    )
    out = matmul_rows(emb, _mm_matrix(), vec_col="mm", id_col="vec_id")
    return out.select(
        "vec_id", F.posexplode("mm").alias("k", "mm")
    ).withColumn("k", F.col("k").cast("long"))


register(
    matmul_rows_kernel,
    f"""
SELECT vec_id, ks.k,
       list_sum(list_transform(range({_MM_D}), j ->
         CAST(embedding[j + 1] AS DOUBLE)
         * CAST(((j * {_MM_K} + ks.k) % 7) - 3 AS DOUBLE))) AS mm
FROM embeddings CROSS JOIN (SELECT range AS k FROM range({_MM_K})) ks
""",
)


# ---------------------------------------------------------------------------
# Pi estimation: map(sample) + reduce(sum) with a deterministic Weyl
# (quasi-random) sample stream — x_i = frac(i/φ), y_i = frac(i·(√2−1)).
# Every op is a single IEEE double mul/floor/cmp, so Spark's NumPy kernel
# and DuckDB agree bit-for-bit; the sample count is fixed (no sf scaling)
# at the reference's smallest GPU benchmark size
# (Evaluation/Speedups.java:71-77 sweeps 1048576 → 16777216).
# ---------------------------------------------------------------------------
_PI_N = 1 << 20
_PI_C1 = 0.6180339887498949  # 1/phi
_PI_C2 = 0.41421356237309515  # sqrt(2) - 1


def pi_estimation_weyl(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    # 8 partitions: plenty for 2^17 rows, and fewer Python workers to
    # schedule — at larger N scale partitions with the sample count
    ids = spark.range(0, _PI_N, 1, 8)

    def kernel(batches):
        for batch in batches:
            i = batch.column("id").to_numpy().astype(np.float64)
            x = i * _PI_C1
            x -= np.floor(x)
            y = i * _PI_C2
            y -= np.floor(y)
            inside = ((x * x + y * y) <= 1.0).astype(np.int64)
            yield pa.RecordBatch.from_arrays([pa.array(inside)], names=["inside"])

    return (
        ids.mapInArrow(kernel, "inside long")
        .agg(F.sum("inside").alias("hits"))
        .select(
            F.lit(_PI_N).cast("bigint").alias("n_samples"),
            "hits",
            (F.lit(4.0) * F.col("hits") / F.lit(float(_PI_N))).alias("pi_est"),
        )
    )


register(
    pi_estimation_weyl,
    f"""
WITH s AS (
  SELECT CAST(range AS DOUBLE) AS i FROM range({_PI_N})
), pts AS (
  SELECT i * {_PI_C1!r} - FLOOR(i * {_PI_C1!r}) AS x,
         i * {_PI_C2!r} - FLOOR(i * {_PI_C2!r}) AS y
  FROM s
)
SELECT CAST({_PI_N} AS BIGINT) AS n_samples,
       CAST(SUM(CASE WHEN x * x + y * y <= 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       4.0 * SUM(CASE WHEN x * x + y * y <= 1.0 THEN 1 ELSE 0 END)
         / CAST({_PI_N} AS DOUBLE) AS pi_est
FROM pts
""",
)


# ---------------------------------------------------------------------------
# DFT of the first 2048 event values (ordered by event_id) — the
# reference's smallest swept size (Evaluation/Speedups.java:60-67:
# 2048 → 65536) — distributed over output indices with the signal
# broadcast. Checked against DuckDB's definition DFT, which differs by
# last-ulp cos/sin only, and golden-tested vs NumPy.
# ---------------------------------------------------------------------------
_DFT_N = 2048


def dft_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # event_ids are dense from 0 (driver testdata invariant), so the
    # first-N-by-id signal prefix is a pushed-down range predicate on
    # the scan rather than a full-table TakeOrdered (5× faster at
    # sf0.1)
    sig = [
        r["value"]
        for r in ev.filter(F.col("event_id") < _DFT_N)
        .orderBy("event_id")
        .limit(_DFT_N)
        .select("value")
        .collect()
    ]
    return dft(np.asarray(sig), spark, partitions=8)


register(
    dft_events,
    # O(N²) definition DFT: the oracle mirrors the kernel's exact
    # angle-expression order ((-2π·k·n)/N) so the only Spark↔DuckDB
    # divergence is last-ulp trig, ~2e-10 absolute on this signal —
    # measured, 0 mismatches at 4dp canonicalization.
    # N is the ACTUAL signal length (the Spark kernel uses len(sig)),
    # not the {_DFT_N} cap — at sf0.001 the events table has fewer than
    # {_DFT_N} rows and a hardcoded N diverged (caught by the sf0.001
    # robustness sweep, round 6)
    f"""
WITH sig AS (SELECT event_id AS n, value AS x FROM events WHERE event_id < {_DFT_N}),
nn AS (SELECT COUNT(*) AS N FROM sig),
ks AS (SELECT n AS k FROM sig)
SELECT k,
       SUM(cos((-2 * pi() * k * n) / (SELECT N FROM nn)) * x) AS re,
       SUM(sin((-2 * pi() * k * n) / (SELECT N FROM nn)) * x) AS im
FROM ks CROSS JOIN sig GROUP BY k
""",
    memo=False,
)


# ---------------------------------------------------------------------------
# Iterative pipelines, each checked against its loop unrolled in DuckDB
# SQL (connected components: an exact recursive-CTE closure).
# ---------------------------------------------------------------------------
def kmeans_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 Lloyd iterations on the (l_quantity, 100*l_discount) plane from
    the Q20 seed centroids; returns the final centroid table."""
    li = load(spark, sf_dir, "lineitem")
    points = li.select(
        F.col("l_quantity").alias("px"), (F.col("l_discount") * 100).alias("py")
    )
    cents = kmeans(points, CENTROIDS, iterations=3)
    return spark.createDataFrame(cents, "cid int, cx double, cy double")


def _kmeans_oracle_sql(iterations: int = 3) -> str:
    """Lloyd's loop unrolled as chained CTEs: per iteration, assign each
    point to its nearest centroid (ROW_NUMBER over (d2, cid) — the same
    tie-break as the LEAST(struct) argmin), then recompute averages with
    empty clusters keeping their position. Tie-safety measured at sf0.01:
    the only exact best-vs-second tie occurs at iteration 0, where
    centroids are literal-exact on both engines (same winner); later
    iterations have min gaps of 3.6e-2 / 7.9 — orders of magnitude above
    any cross-engine ulp drift. Result measured bit-identical."""
    from .ml import CENTROIDS

    seeds = ", ".join(f"({c}, {x}, {y})" for c, x, y in CENTROIDS)
    steps = []
    prev = "c0"
    for t in range(1, iterations + 1):
        steps.append(
            f"""a{t} AS (
  SELECT px, py, cid FROM (
    SELECT p.px, p.py, c.cid,
           ROW_NUMBER() OVER (PARTITION BY p.pid
             ORDER BY (p.px - c.cx) * (p.px - c.cx)
                      + (p.py - c.cy) * (p.py - c.cy), c.cid) AS rn
    FROM pts p CROSS JOIN {prev} c)
  WHERE rn = 1
), s{t} AS (
  SELECT cid, SUM(px) AS sx, SUM(py) AS sy, COUNT(*) AS n FROM a{t} GROUP BY cid
), c{t} AS (
  SELECT c.cid, COALESCE(s.sx / s.n, c.cx) AS cx, COALESCE(s.sy / s.n, c.cy) AS cy
  FROM {prev} c LEFT JOIN s{t} s USING (cid)
)"""
        )
        prev = f"c{t}"
    return f"""
WITH pts AS (
  SELECT ROW_NUMBER() OVER () AS pid, CAST(l_quantity AS DOUBLE) AS px,
         CAST(l_discount AS DOUBLE) * 100 AS py
  FROM lineitem
),
c0(cid, cx, cy) AS (VALUES {seeds}),
{",".join(steps)}
SELECT cid, cx, cy FROM {prev}
"""


register(kmeans_pipeline, _kmeans_oracle_sql(3), memo=False)


def logreg_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 full-batch GD iterations on embeddings (binary label: label>=5);
    returns the learned 64-d weight vector as one row."""
    emb = load(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("features"),
        (F.col("label") >= 5).cast("double").alias("label"),
    )
    w = train(emb, dim=_MM_D, iterations=5, lr=0.1)
    # one scalar row per dimension (not one array row): cross-engine
    # weight drift is ~2e-18, and the driver's round-then-hash is proven
    # only for scalar float columns
    return spark.createDataFrame(
        [(i, float(wi)) for i, wi in enumerate(w)], "d long, weight double"
    )


def _logreg_oracle_sql(dim: int, iterations: int, lr: float) -> str:
    """The full-batch GD loop unrolled as chained CTEs carrying the
    weight vector as a single-row list, mirroring functions/logreg.py's
    float expression order (sigmoid err, X^T err gradient, w - (lr*g)/n
    update). Measured divergence vs the Spark pipeline: ~2e-18 (BLAS vs
    sequential summation ulps)."""
    steps = []
    prev = "w0"
    for t in range(1, iterations + 1):
        steps.append(
            f"""e{t} AS (
  SELECT f, 1.0 / (1.0 + exp(-list_dot_product((SELECT w FROM {prev}), f))) - y AS err
  FROM data
), g{t} AS (
  SELECT d, SUM(err * f[d + 1]) AS g FROM e{t} CROSS JOIN dims GROUP BY d
), w{t} AS (
  SELECT list((SELECT w FROM {prev})[d + 1] - ({lr} * g) / (SELECT cnt FROM nn)
              ORDER BY d) AS w
  FROM g{t}
)"""
        )
        prev = f"w{t}"
    return f"""
WITH data AS (
  SELECT CAST(embedding AS DOUBLE[]) AS f,
         CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS y
  FROM embeddings
),
nn AS (SELECT COUNT(*) AS cnt FROM data),
dims AS (SELECT range AS d FROM range(0, {dim})),
w0 AS (SELECT list_transform(range(0, {dim}), d -> 0.0) AS w),
{",".join(steps)}
SELECT d, (SELECT w FROM {prev})[CAST(d AS INT) + 1] AS weight FROM dims
"""


register(logreg_pipeline, _logreg_oracle_sql(_MM_D, 5, 0.1), memo=False)


def _order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic graph from orders: customer → order-bucket
    bipartite edges folded onto one id space."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") % 997 + 100000).alias("dst"),
    )


def pagerank_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 PageRank supersteps (graph/PageRank.java bulk iteration)."""
    return pagerank(_order_edges(spark, sf_dir), iterations=5)


def _pagerank_oracle_sql(iterations: int = 5) -> str:
    """The 5 supersteps unrolled as chained CTEs, mirroring the exact
    float expression order of functions/graph.py:pagerank ((1-d)/n
    teleport term, rank/deg contributions, damped sum). Measured max
    divergence vs the Spark pipeline: ~8e-20 (summation-order ulps)."""
    steps = []
    prev = "r0"
    for i in range(1, iterations + 1):
        steps.append(
            f"""c{i} AS (
  SELECT e.dst AS vertex, SUM(r.rank / d.deg) AS inflow
  FROM e JOIN {prev} r ON e.src = r.vertex JOIN deg d ON e.src = d.src
  GROUP BY e.dst
), r{i} AS (
  SELECT v.vertex,
         (1.0 - 0.85) / (SELECT cnt FROM nn)
           + 0.85 * COALESCE(c.inflow, 0.0) AS rank
  FROM verts v LEFT JOIN c{i} c USING (vertex)
)"""
        )
        prev = f"r{i}"
    return f"""
WITH e AS (SELECT o_custkey AS src, o_orderkey % 997 + 100000 AS dst FROM orders),
verts AS (SELECT DISTINCT v AS vertex
          FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
nn AS (SELECT COUNT(*) AS cnt FROM verts),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
r0 AS (SELECT vertex, 1.0 / (SELECT cnt FROM nn) AS rank FROM verts),
{",".join(steps)}
SELECT vertex, rank FROM {prev}
"""


register(pagerank_pipeline, _pagerank_oracle_sql(5), memo=False)


def connected_components_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-iteration label propagation (ConnectedComponents.java)."""
    return connected_components(_order_edges(spark, sf_dir), max_iterations=20)


register(
    connected_components_pipeline,
    # Exact-integer oracle: component = min vertex id reachable, computed
    # by a recursive-CTE transitive closure. Valid because the delta
    # iteration converges (workset empties) well within max_iterations on
    # this graph — at convergence min-label propagation IS the true CC.
    """
WITH RECURSIVE und AS (
  SELECT src, dst FROM (
    SELECT o_custkey AS src, o_orderkey % 997 + 100000 AS dst FROM orders
    UNION
    SELECT o_orderkey % 997 + 100000, o_custkey FROM orders
  )
), r(vertex, reach) AS (
  SELECT DISTINCT src, src FROM und
  UNION
  SELECT r.vertex, e.dst FROM r JOIN und e ON r.reach = e.src
)
SELECT vertex, MIN(reach) AS component FROM r GROUP BY vertex
""",
    memo=False,
)


#: Source vertex for sssp_pipeline: customer key 1 exists at every SF.
_SSSP_SOURCE = 1


def _sssp_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted undirected graph on the CC pipeline's id space: both
    directions of each customer↔order-bucket edge, weight a deterministic
    symmetric function of the endpoints ((src+dst) % 7 + 1 — positive,
    integer, so shortest distances are exact bigints)."""
    e = _order_edges(spark, sf_dir)
    und = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    return und.withColumn(
        "weight", (F.col("src") + F.col("dst")) % 7 + 1
    )


def sssp_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest paths, delta iteration
    (flink-gelly/.../library/SingleSourceShortestPaths.java)."""
    return sssp(
        _sssp_edges(spark, sf_dir), source=_SSSP_SOURCE, max_iterations=30
    )


def _sssp_oracle_sql(rounds: int = 18) -> str:
    """Unrolled Bellman-Ford: each CTE round relaxes every edge from the
    current distance set and min-merges. The fixpoint is reached in ≤16
    rounds on the smallest fixture (measured: 16 at sf0.001, 10 at
    sf0.01, 7 at sf0.1 — larger SFs are denser, hence shallower), so 18
    unrolled rounds equal the exact shortest distances the Spark delta
    iteration converges to. Distances are bigint sums of bigint weights —
    no float drift; the comparison is exact.

    MATERIALIZED is load-bearing: each round references the previous CTE
    twice (carry-forward branch + relaxation join), and DuckDB inlines
    plain CTEs, which would expand the plan to 2^rounds parquet scans —
    the inlined form exhausts the process's file descriptors before it
    finishes."""
    steps = []
    prev = "d0"
    for i in range(1, rounds + 1):
        steps.append(
            f"""d{i} AS MATERIALIZED (
  SELECT vertex, MIN(distance) AS distance FROM (
    SELECT vertex, distance FROM {prev}
    UNION ALL
    SELECT e.dst, p.distance + e.w FROM {prev} p JOIN e ON p.vertex = e.src
  ) GROUP BY vertex
)"""
        )
        prev = f"d{i}"
    return f"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT src, dst, (src + dst) % 7 + 1 AS w FROM (
    SELECT o_custkey AS src, o_orderkey % 997 + 100000 AS dst FROM orders
    UNION
    SELECT o_orderkey % 997 + 100000, o_custkey FROM orders
  )
),
d0 AS (SELECT CAST({_SSSP_SOURCE} AS BIGINT) AS vertex,
              CAST(0 AS BIGINT) AS distance),
{",".join(steps)}
SELECT vertex, distance FROM {prev}
"""


register(sssp_pipeline, _sssp_oracle_sql(18), memo=False)
