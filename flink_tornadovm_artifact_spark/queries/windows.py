"""Windowing + interval-join declared queries Q21-Q22 (SURVEY.md §2.G/§2.J).

Batch-checkable mirrors of the DataStream window surface (tumbling /
sliding / session assigners, ``TumblingEventTimeWindows.java`` etc., and
``KeyedStream.intervalJoin`` at ``KeyedStream.java:425``). The streaming
(readStream/writeStream) forms of the same operators live in
``flink_tornadovm_artifact_spark.streaming``; here they run on the batch
``events`` table so the DuckDB oracle can verify the window semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load
from ._util import dsum, dsum_sql, register


# ---------------------------------------------------------------------------
# Q21a — tumbling event-time window per event_type
# ---------------------------------------------------------------------------
def q21_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


register(q21_tumbling_window, f"""
SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start, event_type,
       COUNT(*) AS cnt, {dsum_sql('value')} AS sum_value
FROM events GROUP BY win_start, event_type
""")


# ---------------------------------------------------------------------------
# Q21b — sliding window (size 10 min, slide 5 min): each event lands in two
# windows. Oracle expands the assignment explicitly via UNION ALL.
# ---------------------------------------------------------------------------
def q21_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value").alias("sum_value"))
        .select(F.col("win.start").alias("win_start"), "cnt", "sum_value")
    )


register(q21_sliding_window, f"""
WITH assigned AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS win_start, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes' AS win_start, value
  FROM events
)
SELECT win_start, COUNT(*) AS cnt, {dsum_sql('value')} AS sum_value
FROM assigned GROUP BY win_start
""")


# ---------------------------------------------------------------------------
# Q21c — session window (30-minute gap) per user. Spark's session_window
# merges events whose windows [ts, ts+gap) overlap, i.e. a new session
# starts when the gap to the previous event is >= the gap duration.
# ---------------------------------------------------------------------------
def q21_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("sess_start"),
            "user_id",
            "cnt",
            "sum_value",
        )
    )


register(q21_session_window, f"""
WITH marked AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM marked
)
SELECT MIN(ts) AS sess_start, user_id,
       COUNT(*) AS cnt, {dsum_sql('value')} AS sum_value
FROM numbered GROUP BY user_id, sess_id
""")


# ---------------------------------------------------------------------------
# Q21d — DYNAMIC-gap session window (DynamicEventTimeSessionWindows.java:
# per-element gap extraction). Spark-first: session_window accepts a gap
# EXPRESSION — clicks close after 5 minutes, everything else after 30.
# The oracle sessionizes with a running max of per-row window ends
# (merge-if-overlapping, exactly Spark's session merge rule).
# ---------------------------------------------------------------------------
def q21_session_window_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "click", "5 minutes").otherwise(
        "30 minutes"
    )
    return (
        ev.groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("sess_start"),
            "user_id",
            "cnt",
            "sum_value",
        )
    )


register(q21_session_window_dynamic, f"""
WITH ends AS (
  SELECT user_id, ts, value, event_id,
         ts + CASE WHEN event_type = 'click' THEN INTERVAL '5 minutes'
                   ELSE INTERVAL '30 minutes' END AS w_end
  FROM events
), marked AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN MAX(w_end) OVER prev IS NULL
                   OR ts >= MAX(w_end) OVER prev
              THEN 1 ELSE 0 END AS new_sess
  FROM ends
  WINDOW prev AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), numbered AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM marked
)
SELECT MIN(ts) AS sess_start, user_id,
       COUNT(*) AS cnt, {dsum_sql('value')} AS sum_value
FROM numbered GROUP BY user_id, sess_id
""")


# ---------------------------------------------------------------------------
# Q22 — interval join (KeyedStream.intervalJoin, KeyedStream.java:425-553):
# pairs of events of the same user within ±5 minutes.
#
# Scale shape: a raw range condition on an equi-key degrades to a
# per-user nested loop (BroadcastHashJoin here only because sf0.1 fits in
# the broadcast threshold; at 100 TB it would be SMJ with an O(n²/user)
# inner scan). Instead, bucketize time onto a 5-minute grid: every ±5 min
# pair lands in the same or an adjacent cell, so joining the left side
# against cells {g-1, g, g+1} on the composite equi-key
# (user_id, bucket) makes it a plain hash join whose candidate set is
# only the ~3-cell neighborhood; the exact range predicate then filters.
# ---------------------------------------------------------------------------
_IVL_SEC = 300  # ±5 minutes, also the grid cell width


def q22_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        (F.unix_timestamp("ts") / _IVL_SEC).cast("bigint").alias("g"),
    )
    a = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.explode(F.array(F.col("g") - 1, F.col("g"), F.col("g") + 1)).alias("g"),
    ).alias("a")
    b = ev.alias("b")
    pairs = a.join(b, ["user_id", "g"], "inner").filter(
        (F.col("b.ts") >= F.col("a.ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 5 MINUTES"))
        & (F.col("a.event_id") < F.col("b.event_id"))
    )
    return pairs.groupBy("user_id").agg(
        # each qualifying pair is seen exactly once: only b's OWN cell g
        # appears on the right, and a's explode covers that cell exactly
        # once among {g-1, g, g+1}
        F.count(F.lit(1)).alias("n_pairs")
    )


register(q22_interval_join, """
SELECT a.user_id AS user_id, COUNT(*) AS n_pairs
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts BETWEEN a.ts - INTERVAL '5 minutes' AND a.ts + INTERVAL '5 minutes'
 AND a.event_id < b.event_id
GROUP BY a.user_id
""")
