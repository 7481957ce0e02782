"""IoT analytics queries Q17-Q19 (SURVEY.md §2.J).

Mirrors the reference's flagship IoT use case — global min/max/sum/avg
reduce and per-(device, window) grouped aggregation + outlier detection
(reference ``IoT.java:59-155``, ``SparkWorks.java:158-192``) — on the
``events`` table (user_id plays device_id, ts the window timestamp).

The reference implements AVG as a weighted pairwise (sum,count) combine
(``IoT.java:117-123``); Spark's partial/final aggregation is the same
decomposition, done by Catalyst automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..tables import load
from ._util import davg, davg_sql, dsum, dsum_sql, register


# ---------------------------------------------------------------------------
# Q17 — global reduce min/max/sum/avg (IoT.java:62-80 reducers)
# ---------------------------------------------------------------------------
def q17_iot_global_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.agg(
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        dsum("value").alias("sum_value"),
        davg("value").alias("avg_value"),
        F.count(F.lit(1)).alias("cnt"),
    )


register(q17_iot_global_reduce, f"""
SELECT MIN(value) AS min_value, MAX(value) AS max_value,
       {dsum_sql('value')} AS sum_value, {davg_sql('value')} AS avg_value,
       COUNT(*) AS cnt
FROM events
""")


# ---------------------------------------------------------------------------
# Q18 — grouped window aggregate (SparkWorks.java:158-192, groupBy(0,2))
# 5-minute tumbling bucket per device; the flagship entry() query.
# ---------------------------------------------------------------------------
def q18_iot_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("win"), "user_id")
        .agg(
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            dsum("value").alias("sum_value"),
            davg("value").alias("avg_value"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "user_id",
            "min_value",
            "max_value",
            "sum_value",
            "avg_value",
            "cnt",
        )
    )


register(q18_iot_window_agg, f"""
SELECT time_bucket(INTERVAL '5 minutes', ts) AS win_start, user_id,
       MIN(value) AS min_value, MAX(value) AS max_value,
       {dsum_sql('value')} AS sum_value, {davg_sql('value')} AS avg_value,
       COUNT(*) AS cnt
FROM events
GROUP BY win_start, user_id
""")


# ---------------------------------------------------------------------------
# Q19 — outlier detection: values outside mean ± 2σ per (device, window)
# (IoT.java:125-155 reduceGroup). Expressed with analytic windows so Spark
# computes it in one pass — no self-join, no group materialization.
#
# Window width: 1 DAY, not 1 hour. The testdata's per-(user, hour) groups
# average ~1 row, where mean±2σ can never fire (n=1 → sd NULL; n=2 →
# |v−mean|/sd ≡ 1/√2), so the hourly form was vacuously green against
# the oracle (round-2 verdict). Daily windows hold ~22 rows per group at
# sf0.01 and the predicate fires (6 rows sf0.01 / 141 rows sf0.1),
# making the differential check discriminating.
# ---------------------------------------------------------------------------
def q19_iot_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn(
        "win_start", F.window("ts", "1 day")["start"]
    )
    w = W.partitionBy("user_id", "win_start")
    stats = ev.select(
        "event_id",
        "user_id",
        "win_start",
        "value",
        F.avg("value").over(w).alias("mean_v"),
        F.stddev_samp("value").over(w).alias("sd_v"),
    )
    return stats.filter(
        F.abs(F.col("value") - F.col("mean_v")) > 2 * F.col("sd_v")
    ).select("event_id", "user_id", "win_start", "value")


register(q19_iot_outliers, """
SELECT event_id, user_id, win_start, value
FROM (
  SELECT event_id, user_id,
         time_bucket(INTERVAL '1 day', ts) AS win_start, value,
         AVG(value) OVER w AS mean_v,
         STDDEV_SAMP(value) OVER w AS sd_v
  FROM events
  WINDOW w AS (PARTITION BY user_id, time_bucket(INTERVAL '1 day', ts))
)
WHERE ABS(value - mean_v) > 2 * sd_v
""")


# ---------------------------------------------------------------------------
# Q36 — JSON extraction (§2.H: Spark's JSON surface is a superset of
# Flink 1.11's): pull the numeric payload out of events.props and
# aggregate it per event type.
# ---------------------------------------------------------------------------
def q36_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.sum(F.when(F.col("k") > 50, 1).otherwise(0))
            .cast("bigint")
            .alias("n_big"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


register(q36_json_extract, """
SELECT event_type,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(SUM(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) > 50
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
       COUNT(*) AS cnt
FROM events GROUP BY event_type
""")


# ---------------------------------------------------------------------------
# Q52 — typed JSON parsing with from_json (§2.H: schema-declared parsing,
# the structured counterpart of q36's path-extraction get_json_object).
# The parsed struct feeds a windowed aggregate, proving the parse stays
# expression-level (no UDF) ahead of the shuffle.
# ---------------------------------------------------------------------------
def q52_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json("props", "k bigint").alias("p"),
    )
    return (
        parsed.groupBy("event_type", (F.col("p.k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("p.k").cast("bigint").alias("sum_k"),
        )
    )


register(q52_from_json_struct, """
SELECT event_type,
       CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events
GROUP BY event_type, k_mod
""")
