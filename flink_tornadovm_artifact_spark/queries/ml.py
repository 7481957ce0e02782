"""ML-shaped declared queries (Q20) — the KMeans assignment step.

Reference: ``KMeans.java:121,248`` — ``SelectNearestCenter``: map each point
against a broadcast centroid set, emit (nearest-centroid-id, point). The
Spark-first expression is a broadcast cross join + per-point argmin, which
Catalyst executes as BroadcastNestedLoopJoin — exactly the map-with-broadcast
pattern of the reference, with no shuffle of the (large) points side until
the final small aggregation.

The full iterative KMeans loop lives in
``flink_tornadovm_artifact_spark.functions.kmeans`` (golden-tested vs NumPy,
like the reference's CPU-vs-GPU comparison).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..tables import load
from ._util import davg, davg_sql, dsum, dsum_sql, register


#: Fixed centroid seed set (id, x, y) in the (l_quantity, 100*l_discount)
#: plane — deterministic, mirrored literally in the oracle SQL.
CENTROIDS = [(0, 10.0, 2.0), (1, 25.0, 5.0), (2, 40.0, 8.0), (3, 50.0, 10.0)]


def _dist2(cx: float, cy: float):
    # explicit multiplication, not pow(x,2): pow differs by ulps across
    # engines, which would flip winners among exactly-equidistant points
    dx = F.col("px") - F.lit(cx)
    dy = F.col("py") - F.lit(cy)
    return dx * dx + dy * dy


def q20_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment as a pure per-row expression.

    The centroid set is tiny and fixed, so the argmin is a scalar
    LEAST(struct(d2, cid)) — the exact analog of the reference's
    map-with-broadcast ``SelectNearestCenter`` (KMeans.java:248): each
    row is scored against every centroid (each distance computed ONCE)
    with no join, no window, no shuffle until the final 4-group
    aggregate. Equal-distance ties break to the smallest cid via struct
    ordering, identical to the oracle's first-wins CASE over the
    cid-ascending centroid list.
    """
    li = load(spark, sf_dir, "lineitem")
    points = li.select(
        F.col("l_quantity").alias("px"),
        (F.col("l_discount") * 100).alias("py"),
    )
    structs = [
        F.struct(_dist2(x, y).alias("d2"), F.lit(c).alias("cid"))
        for c, x, y in CENTROIDS
    ]
    return (
        points.withColumn("cid", F.least(*structs).getField("cid"))
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            davg("px").alias("avg_x"),
            davg("py").alias("avg_y"),
        )
    )


def _d2_sql(cx: float, cy: float) -> str:
    return (
        f"(px - CAST({cx} AS DOUBLE)) * (px - CAST({cx} AS DOUBLE))"
        f" + (py - CAST({cy} AS DOUBLE)) * (py - CAST({cy} AS DOUBLE))"
    )


_case = []
for _i, (_c, _x, _y) in enumerate(CENTROIDS[:-1]):
    _conds = " AND ".join(
        f"{_d2_sql(_x, _y)} <= {_d2_sql(_x2, _y2)}"
        for _, _x2, _y2 in CENTROIDS[_i + 1 :]
    )
    _case.append(f"WHEN {_conds} THEN {_c}")
_case_sql = "CASE " + " ".join(_case) + f" ELSE {CENTROIDS[-1][0]} END"

register(q20_kmeans_assign, f"""
WITH points AS (
  SELECT l_quantity AS px, l_discount * 100 AS py FROM lineitem
), assigned AS (
  SELECT px, py, {_case_sql} AS cid FROM points
)
SELECT cid, COUNT(*) AS n_points,
       {davg_sql('px')} AS avg_x, {davg_sql('py')} AS avg_y
FROM assigned
GROUP BY cid
""")
