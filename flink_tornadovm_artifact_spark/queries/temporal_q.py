"""Declared query for the temporal (as-of) table join
(``operators/temporal.py`` ← Table.createTemporalTableFunction,
``FT/flink-table/flink-table-api-java/.../Table.java:131``).

Versioned table: each user's ``signup`` events form their version
history (value = the versioned attribute, deduplicated to one version
per (user, timestamp) by highest event id — a deterministic
latest-write-wins). Probe side: ``purchase`` events. Every purchase
picks up the signup value in effect at its event time; purchases before
any signup drop (inner temporal join). The DuckDB oracle is a native
ASOF JOIN — an entirely independent implementation of the same
semantics, which makes the differential check strong.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.temporal import temporal_join
from ..tables import load
from ._util import register


def temporal_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    dedup = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    versions = (
        ev.filter(F.col("event_type") == "signup")
        .withColumn("_rn", F.row_number().over(dedup))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("vts"),
            F.col("value").alias("signup_value"),
        )
    )
    probe = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return temporal_join(
        probe,
        versions,
        on="user_id",
        probe_time="purchase_ts",
        version_time="vts",
        version_cols=["signup_value"],
    )


register(temporal_join_events, """
WITH s AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS vts, value AS signup_value,
         ROW_NUMBER() OVER (PARTITION BY user_id, ts
                            ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'signup'
),
v AS (SELECT user_id, vts, signup_value FROM s WHERE rn = 1),
f AS (
  SELECT event_id AS purchase_id, user_id,
         CAST(ts AS TIMESTAMP) AS purchase_ts, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
)
SELECT f.purchase_id, f.user_id, f.purchase_ts, f.purchase_value,
       v.signup_value
FROM f ASOF JOIN v ON f.user_id = v.user_id AND f.purchase_ts >= v.vts
""")


def hypertable_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly hypertable rollup of events per event_type — the BATCH
    semantics of ``streaming/rollup.py:ContinuousAggregate`` (whose
    incremental maintenance is differentially pinned against exactly
    this aggregate in tests/test_rollup_rangejoin.py). One scan, one
    tiny (buckets × types) shuffle."""
    from ..streaming.rollup import bucket_partials, with_avg

    ev = load(spark, sf_dir, "events").select("event_type", "ts", "value")
    return with_avg(
        bucket_partials(ev, ["event_type"], "ts", "value", "1 hour")
    )


register(hypertable_rollup_events, """
SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS bucket_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       SUM(value) AS sum_v,
       MIN(value) AS min_v,
       MAX(value) AS max_v,
       SUM(value) / COUNT(*) AS avg_v
FROM events
GROUP BY 1, 2
""")


RANGE_LOWER, RANGE_UPPER = 1.0, 5.0


def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join (``operators/temporal.py:range_join``): pairs
    of same-user events where the right value lies in
    [left value + 1, left value + 5] — the generic band-join shape (the
    interval join q22 is the time-axis special case). The cell-grid
    rewrite keeps it a hash join on (user, cell); the count-per-user
    output keeps the oracle comparison cardinality-stable."""
    from ..operators.temporal import range_join

    ev = load(spark, sf_dir, "events")
    left = ev.select(
        "user_id", F.col("event_id").alias("l_id"), F.col("value").alias("lv")
    )
    right = ev.select(
        "user_id", F.col("event_id").alias("r_id"), F.col("value").alias("rv")
    )
    pairs = range_join(
        left, right, "user_id", "lv", "rv", RANGE_LOWER, RANGE_UPPER
    ).filter(F.col("l_id") != F.col("r_id"))
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


register(range_join_events, f"""
SELECT a.user_id AS user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.value BETWEEN a.value + {RANGE_LOWER} AND a.value + {RANGE_UPPER}
 AND a.event_id <> b.event_id
GROUP BY a.user_id
""")


# ---------------------------------------------------------------------------
# Hypertable gap-fill + LOCF (the time_bucket_gapfill / locf pair of
# the hypertable toolkit): per user, materialize the full hourly grid
# over that user's OWN observed span, fill missing hours by
# last-observation-carried-forward, and report the per-user gap
# accounting — span, observed, gaps, and the observed-vs-filled means
# (their difference is exactly what LOCF imputation injects into any
# downstream hourly average).
# Plan / 100 TB: the grid is generated PER USER from the user's own
# [min_h, max_h] (one sequence explode — output linear in user-hour
# span, never global-calendar × users), the fill join is keyed on
# (user, hour), and LOCF is a keyed running window (partitionBy user —
# never a global sort). The rollup returns one row per user.
# ---------------------------------------------------------------------------
def hypertable_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timestampdiff is timezone-free on the NTZ-loaded ts (a cast to
    # double/unix_timestamp would inject the session timezone and
    # diverge from DuckDB's naive epoch())
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr(
            "timestampdiff(HOUR, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
        .cast("bigint")
        .alias("h"),
        "value",
    )
    # ADVICE r12: the weighted LOCF fold below assumes hv is never NULL
    # (an all-NULL hour must be a gap/pass-through, not a zero-weight
    # observation). events.value is non-null at every SF, so this filter
    # is a no-op on real data — it enforces the assumption in code: an
    # all-NULL hour now yields no observed row (a gap), exactly the
    # oracle's IGNORE NULLS carry-forward semantics.
    hourly = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("user_id", "h")
        .agg(F.avg("value").alias("hv"))
    )
    # Round 12 (guide §2.4 — don't materialize what an identity can
    # fold): the r1-r11 shape exploded the full h0..h1 hour grid,
    # LEFT-joined the observations back and ran a LOCF running window
    # over every grid row. But LOCF over a gap just repeats the last
    # observed value until the next observation, so each observed hour
    # contributes hv x (next_h - h) to the grid sum (the last one
    # h1 + 1 - h), and every grid aggregate collapses onto the
    # observation table: span = h1 - h0 + 1, gaps = span - observed,
    # locf_avg = sum(hv * w) / span. One lead window over OBSERVED
    # hours replaces grid explode + (user, h) join + grid-sized window;
    # the only drift is float summation order (hv * w vs w repeated
    # adds), inside the oracle's round-4 contract (the gemm precedent).
    # The fold assumes hv is never NULL (events.value is non-null at
    # every SF — an all-NULL hour would be a LOCF pass-through, not a
    # weighted observation; the oracle sweep at both SFs pins this).
    w_lead = Window.partitionBy("user_id").orderBy("h")
    w_user = Window.partitionBy("user_id")
    weighted = hourly.select(
        "user_id",
        "hv",
        (
            F.coalesce(F.lead("h").over(w_lead), F.max("h").over(w_user) + 1)
            - F.col("h")
        ).alias("w"),
        F.col("h"),
    )
    return weighted.groupBy("user_id").agg(
        (F.max("h") - F.min("h") + 1).alias("n_hours_span"),
        F.count("hv").alias("n_observed"),
        (F.max("h") - F.min("h") + 1 - F.count("hv"))
        .cast("bigint")
        .alias("n_gaps"),
        F.avg("hv").alias("observed_avg"),
        (
            F.sum(F.col("hv") * F.col("w"))
            / (F.max("h") - F.min("h") + 1)
        ).alias("locf_avg"),
    )


register(hypertable_gapfill_locf, """
WITH e AS (
  SELECT user_id,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT) AS h,
         value
  FROM events
), hourly AS (
  SELECT user_id, h, AVG(value) AS hv FROM e GROUP BY 1, 2
), span AS (
  SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1
), grid AS (
  SELECT user_id, UNNEST(range(h0, h1 + 1)) AS h FROM span
), l AS (
  SELECT g.user_id, hourly.hv,
         last_value(hourly.hv IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS fv
  FROM grid g LEFT JOIN hourly
    ON g.user_id = hourly.user_id AND g.h = hourly.h
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_hours_span,
       CAST(COUNT(hv) AS BIGINT) AS n_observed,
       CAST(COUNT(*) - COUNT(hv) AS BIGINT) AS n_gaps,
       AVG(hv) AS observed_avg,
       AVG(fv) AS locf_avg
FROM l GROUP BY 1
""")


# ---------------------------------------------------------------------------
# Funnel conversion over the event stream (view → click → purchase):
# the product-analytics primitive — per step, how many users reached it
# IN ORDER (each step's timestamp strictly after the previous step's
# first occurrence), with step-over-step and from-top conversion
# rates. This is the batch answer the CEP followedBy patterns
# (queries/cep.py) give per-match; the funnel gives the per-step
# population rollup.
# Plan / 100 TB: each step is a keyed (user) aggregate over an
# event-type-filtered scan joined to the previous step's first-hit
# table — three hash joins on user_id, partial-aggregated map-side;
# the final panel is three 1-row counts cross-joined. No windows over
# the raw stream, no per-user event sorting.
# ---------------------------------------------------------------------------
FUNNEL_STEPS = ("view", "click", "purchase")


def funnel_conversion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n1 = s1.agg(F.count(F.lit(1)).alias("n1"))
    n2 = s2.agg(F.count(F.lit(1)).alias("n2"))
    n3 = s3.agg(F.count(F.lit(1)).alias("n3"))
    counts = n1.crossJoin(n2).crossJoin(n3)
    rows = counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("step"),
                    F.lit(FUNNEL_STEPS[0]).alias("step_name"),
                    F.col("n1").alias("n_users"),
                    F.lit(1.0).alias("conv_from_prev"),
                    F.lit(1.0).alias("conv_from_first"),
                ),
                F.struct(
                    F.lit(2).alias("step"),
                    F.lit(FUNNEL_STEPS[1]).alias("step_name"),
                    F.col("n2").alias("n_users"),
                    F.try_divide(F.col("n2"), F.col("n1")).alias(
                        "conv_from_prev"
                    ),
                    F.try_divide(F.col("n2"), F.col("n1")).alias(
                        "conv_from_first"
                    ),
                ),
                F.struct(
                    F.lit(3).alias("step"),
                    F.lit(FUNNEL_STEPS[2]).alias("step_name"),
                    F.col("n3").alias("n_users"),
                    F.try_divide(F.col("n3"), F.col("n2")).alias(
                        "conv_from_prev"
                    ),
                    F.try_divide(F.col("n3"), F.col("n1")).alias(
                        "conv_from_first"
                    ),
                ),
            )
        ).alias("r")
    ).select("r.*")
    return rows.select(
        F.col("step").cast("int").alias("step"),
        "step_name",
        F.col("n_users").cast("bigint").alias("n_users"),
        "conv_from_prev",
        "conv_from_first",
    )


register(funnel_conversion_events, f"""
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY 1
), s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > s1.t1
  GROUP BY 1
), s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > s2.t2
  GROUP BY 1
), c AS (
  SELECT (SELECT COUNT(*) FROM s1) AS n1,
         (SELECT COUNT(*) FROM s2) AS n2,
         (SELECT COUNT(*) FROM s3) AS n3
)
SELECT CAST(1 AS INTEGER) AS step, '{FUNNEL_STEPS[0]}' AS step_name,
       CAST(n1 AS BIGINT) AS n_users, 1.0 AS conv_from_prev,
       1.0 AS conv_from_first
FROM c
UNION ALL
SELECT CAST(2 AS INTEGER), '{FUNNEL_STEPS[1]}', CAST(n2 AS BIGINT),
       n2 * 1.0 / n1, n2 * 1.0 / n1 FROM c
UNION ALL
SELECT CAST(3 AS INTEGER), '{FUNNEL_STEPS[2]}', CAST(n3 AS BIGINT),
       n3 * 1.0 / n2, n3 * 1.0 / n1 FROM c
""")


# ---------------------------------------------------------------------------
# Streaming twin of the funnel: the batch query's three first-hit
# join+aggs become ONE per-user state machine in keyed state, folded by
# ``streaming.order.keyed_fold`` (the reference's KeyedProcessFunction +
# ValueState idiom, FT flink-streaming-java .../functions/
# KeyedProcessFunction.java): the state holds the first-hit
# timestamps (t1, t2, t3); an event advances the machine iff it is the
# next step's type and STRICTLY after the previous step's first hit —
# the batch query's exact MIN-after-previous semantics under an
# event-time-ordered per-user feed (the first qualifying hit in order
# IS the min; ties at the previous step's timestamp are excluded by
# the strict > on both sides). Each advance emits one
# (user_id, step, step_ts) row in append mode; counting rows per step
# downstream reproduces the batch panel's n_users column.
# State per user is three timestamps plus the (ts, event_id) feed
# position the driver checks the ordering contract against — constant;
# no per-user event history is ever retained (the CEP NFA analog
# keeps partial matches; the funnel machine is memoryless beyond its
# first-hits).
# ---------------------------------------------------------------------------
def funnel_conversion_stream(events_stream: DataFrame) -> DataFrame:
    """Append-mode (user_id, step, step_ts) first-hit rows over an
    events STREAM with columns (ts timestamp, user_id, event_id,
    event_type); each (user, step) is emitted at most once across the
    stream. Ordering is ``streaming.order.keyed_fold``'s contract: each
    micro-batch is folded in (ts, event_id) order and an out-of-order
    cross-batch feed raises (compose
    ``streaming.order.ordered_events_stream`` upstream for an unordered
    raw feed). First-hit sentinels are -1, not 0, so an event at
    exactly the epoch still registers and advances."""
    from ..streaming.order import keyed_fold

    def advance(state, rows, _wm):
        t1, t2, t3 = state
        hits = []  # (step, ts_us)
        for ts_us, et in zip(rows["ts"].tolist(), rows["event_type"].tolist()):
            if et == FUNNEL_STEPS[0] and t1 < 0:
                t1 = ts_us
                hits.append((1, ts_us))
            elif et == FUNNEL_STEPS[1] and t1 >= 0 and ts_us > t1 and t2 < 0:
                t2 = ts_us
                hits.append((2, ts_us))
            elif et == FUNNEL_STEPS[2] and t2 >= 0 and ts_us > t2 and t3 < 0:
                t3 = ts_us
                hits.append((3, ts_us))
        return (t1, t2, t3), hits, None

    return keyed_fold(
        events_stream,
        advance,
        "t1_us long, t2_us long, t3_us long",
        (-1, -1, -1),
        "step int, step_ts timestamp",
    )
