"""Behavioral / product-analytics query family over the ``events`` and
``orders`` tables — the warehouse-side session/cohort/experiment panels
that sit next to the funnel (``temporal_q.funnel_conversion_events``)
and the CEP pattern family (``queries/cep.py``) in any analytics
engine's demo suite (the reference exercises the same event-stream
surface through its CEP examples,
``FT/flink-libraries/flink-cep/.../Pattern.java``; these are the batch
rollups a product team runs over the SAME event log).

Engine-portability notes (shared by every query here):

* Time bucketing is ``timestampdiff(unit, TIMESTAMP_NTZ epoch, ts)`` on
  the Spark side and ``floor(epoch(ts) / unit_seconds)`` in DuckDB —
  both timezone-free floors of the naive timestamp, identical for
  positive epochs (the ``hypertable_gapfill_locf`` idiom).
* Experiment assignment hashes ``md5(CAST(user_id AS string))`` — both
  engines produce the same lowercase hex for the same input string, so
  the variant split is reproducible across engines (Spark's ``hash()``
  and DuckDB's ``hash()`` are different functions and must not be used
  for anything the oracle sees).
* Every reported float is either a single division / sqrt / exp of
  exact integer aggregates (bit-identical given IEEE semantics) or
  passes through the driver's round-4 canonicalization with ≥1e-10
  headroom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load
from ._util import DEC, register


def _pctl(col: str, prob: float, approx: bool):
    """Grouped percentile with the 100 TB flip as a MECHANISM (round 9;
    the dq_table_profile pattern): exact ``percentile`` buffers every
    group value in executor memory — fine at test SFs and registered
    for oracle exactness — while ``approx=True`` swaps in the mergeable
    fixed-size t-digest sketch (``approx_percentile``, accuracy 10000),
    whose state is bounded regardless of group cardinality. Tests pin
    the approx panels against the exact ones within interpolation
    tolerance."""
    if approx:
        return F.expr(f"approx_percentile({col}, {prob}, 10000)").cast(
            "double"
        )
    return F.expr(f"percentile({col}, {prob})")


#: Spark-side integer day / second since the naive epoch (NTZ-safe).
_DAYS = "timestampdiff(DAY, TIMESTAMP_NTZ '1970-01-01 00:00:00', {c})"
_SECS = "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {c})"
#: DuckDB renderings of the same floors.
_DAYS_SQL = "CAST(floor(epoch(CAST({c} AS TIMESTAMP)) / 86400) AS BIGINT)"
_SECS_SQL = "CAST(floor(epoch(CAST({c} AS TIMESTAMP))) AS BIGINT)"


# ---------------------------------------------------------------------------
# Weekly cohort retention matrix: users are assigned to the epoch-week
# of their first event; retention(c, o) = fraction of cohort c's users
# active in week c+o. The classic product-analytics triangle view —
# the population complement of the per-user funnel.
# Plan / 100 TB: the corpus collapses to the distinct (user, week)
# activity table in one map-side-combined groupBy (user-weeks, not
# events); cohorts are a per-user MIN; the matrix is a keyed join on
# user then a (cohort × offset)-bounded aggregate — weeks² output, no
# global sorts, no windows over the raw stream.
# ---------------------------------------------------------------------------
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.expr(_DAYS.format(c="ts")) / F.lit(7)).alias("week"),
    )
    activity = ev.distinct()
    first = activity.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    matrix = (
        activity.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return matrix.join(sizes, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "n_cohort",
        (F.col("n_active") / F.col("n_cohort")).alias("retention"),
    )


register(cohort_retention_weekly, f"""
WITH a AS (
  SELECT DISTINCT user_id,
         CAST(floor({_DAYS_SQL.format(c="ts")} / 7) AS BIGINT) AS week
  FROM events
), f AS (
  SELECT user_id, MIN(week) AS cohort_week FROM a GROUP BY 1
), s AS (
  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_cohort FROM f GROUP BY 1
), m AS (
  SELECT f.cohort_week, a.week - f.cohort_week AS week_offset,
         CAST(COUNT(*) AS BIGINT) AS n_active
  FROM a JOIN f ON a.user_id = f.user_id
  GROUP BY 1, 2
)
SELECT m.cohort_week, m.week_offset, m.n_active, s.n_cohort,
       m.n_active * 1.0 / s.n_cohort AS retention
FROM m JOIN s ON m.cohort_week = s.cohort_week
""")


# ---------------------------------------------------------------------------
# First-order Markov chain over per-user event-type sequences: the
# transition count matrix and its row-stochastic probabilities — the
# "what do users do next" panel (and the empirical model behind
# next-event prediction / clickstream simulation).
# Plan / 100 TB: the only per-event work is a USER-keyed lead window
# (each user's history sorts inside its hash partition — power-user
# skew is the known hazard and AQE skew handling the remedy; never a
# global sort), collapsing immediately to the types²-bounded (≤25 row)
# transition table; row totals join on the ≤5-key from_type.
# ---------------------------------------------------------------------------
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), "to_type")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n_trans").alias("n_from"))
    return pairs.join(totals, "from_type").select(
        "from_type",
        "to_type",
        "n_trans",
        "n_from",
        (F.col("n_trans") / F.col("n_from")).alias("p_trans"),
    )


register(markov_event_transitions, """
WITH seq AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM events
), p AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_trans
  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
), t AS (
  SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS n_from FROM p GROUP BY 1
)
SELECT p.from_type, p.to_type, p.n_trans, t.n_from,
       p.n_trans * 1.0 / t.n_from AS p_trans
FROM p JOIN t ON p.from_type = t.from_type
""")


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve (Kaplan & Meier 1958) for time-to-first-
# purchase: per user, the duration from their first event to their
# first purchase (observed) or to their last event (right-censored —
# the user left without converting). S(t) = Π_{t_i ≤ t} (1 − d_i/n_i)
# over the distinct event durations.
# Plan / 100 TB: the corpus collapses to one row per user in a single
# conditional-min groupBy, then to the distinct-DURATION grid (bounded
# by the observation span in minutes — a TIME-bounded frame, not a
# corpus-bounded one), over which the risk-set and product windows run;
# both are in GLOBAL_WINDOW_ALLOWLIST for exactly that reason. n_total
# rides along as a 1-row broadcast (NESTED_LOOP_ALLOWLIST). The
# cumulative Π is exp(Σ ln f_i) with the sum taken in duration order by
# BOTH engines (sequential window accumulation → identical FP); a
# zero factor (everyone at risk dies) short-circuits to exact 0.0 via
# a flag instead of feeding ln(0)'s engine-divergent result downstream.
# ---------------------------------------------------------------------------
def survival_km_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    sec = F.expr(_SECS.format(c="ts"))
    per_user = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            sec.alias("s"),
            (F.col("event_type") == "purchase").alias("is_p"),
        )
        .groupBy("user_id")
        .agg(
            F.min("s").alias("s0"),
            F.min(F.when(F.col("is_p"), F.col("s"))).alias("sp"),
            F.max("s").alias("sl"),
        )
        .select(
            F.floor(
                (F.coalesce(F.col("sp"), F.col("sl")) - F.col("s0"))
                / F.lit(60)
            ).alias("dur_min"),
            F.col("sp").isNotNull().cast("int").alias("observed"),
        )
    )
    n_total = per_user.agg(F.count(F.lit(1)).alias("n_total"))
    grid = (
        per_user.groupBy("dur_min")
        .agg(
            F.sum("observed").alias("n_events"),
            F.count(F.lit(1)).alias("n_here"),
        )
        .crossJoin(F.broadcast(n_total))
    )
    w_cum = Window.orderBy("dur_min").rowsBetween(
        Window.unboundedPreceding, 0
    )
    at_risk = grid.select(
        "dur_min",
        "n_events",
        (
            F.col("n_total") - F.sum("n_here").over(w_cum) + F.col("n_here")
        ).alias("n_at_risk"),
    ).filter(F.col("n_events") > 0)
    factor = (F.col("n_at_risk") - F.col("n_events")) / F.col("n_at_risk")
    stepped = at_risk.select(
        "dur_min",
        "n_events",
        "n_at_risk",
        F.when(factor > 0, F.log(F.when(factor > 0, factor).otherwise(1.0)))
        .otherwise(F.lit(None).cast("double"))
        .alias("lnf"),
        (factor == 0).cast("int").alias("dead"),
    )
    return stepped.select(
        "dur_min",
        "n_events",
        "n_at_risk",
        F.when(F.max("dead").over(w_cum) == 1, F.lit(0.0))
        .otherwise(F.exp(F.sum("lnf").over(w_cum)))
        .alias("km_survival"),
    )


register(survival_km_purchase, f"""
WITH u AS (
  SELECT user_id, MIN(s) AS s0,
         MIN(CASE WHEN event_type = 'purchase' THEN s END) AS sp,
         MAX(s) AS sl
  FROM (SELECT user_id, event_type, {_SECS_SQL.format(c="ts")} AS s
        FROM events)
  GROUP BY 1
), d AS (
  SELECT CAST(floor((COALESCE(sp, sl) - s0) / 60) AS BIGINT) AS dur_min,
         CASE WHEN sp IS NOT NULL THEN 1 ELSE 0 END AS observed
  FROM u
), g AS (
  SELECT dur_min, CAST(SUM(observed) AS BIGINT) AS n_events,
         CAST(COUNT(*) AS BIGINT) AS n_here
  FROM d GROUP BY 1
), r AS (
  SELECT dur_min, n_events,
         CAST((SELECT COUNT(*) FROM d)
              - SUM(n_here) OVER (ORDER BY dur_min
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)
              + n_here AS BIGINT) AS n_at_risk
  FROM g
), s AS (
  SELECT dur_min, n_events, n_at_risk,
         CASE WHEN n_at_risk > n_events
              THEN ln((n_at_risk - n_events) * 1.0 / n_at_risk) END AS lnf,
         CASE WHEN n_at_risk = n_events THEN 1 ELSE 0 END AS dead
  FROM r WHERE n_events > 0
)
SELECT dur_min, n_events, n_at_risk,
       CASE WHEN MAX(dead) OVER w = 1 THEN 0.0
            ELSE exp(SUM(lnf) OVER w) END AS km_survival
FROM s
WINDOW w AS (ORDER BY dur_min
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""")


# ---------------------------------------------------------------------------
# A/B experiment read-out with a two-proportion z-test: users are
# deterministically split into variants by the first hex digit of
# md5(user_id) (8/16 per arm — the engine-portable hash split; see the
# module docstring), conversion = reached a high-value purchase
# (value ≥ CONV_VALUE_MIN — the plain any-purchase definition
# saturates at 100% on this fixture, which would zero the pooled
# variance). The panel reports both arms plus the pooled two-proportion
# z statistic — the decision number an experimentation platform
# prints; degenerate splits (an empty arm, a 0%/100% pooled rate)
# yield NULL rates/z instead of a divide-by-zero under ANSI mode.
# Plan / 100 TB: one user-keyed conditional aggregate (map-side
# combined), then ONE single-row conditional aggregation over the
# users-sized table — no joins at all; the z arithmetic is a closed
# form over six integers, written with the identical expression shape
# in both engines.
# ---------------------------------------------------------------------------
CONV_VALUE_MIN = 150.0


def experiment_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_type", "value")
        .groupBy("user_id")
        .agg(
            F.max(
                (
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= CONV_VALUE_MIN)
                ).cast("int")
            ).alias("conv")
        )
        .select(
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
                < F.lit("8"),
                F.lit("A"),
            )
            .otherwise(F.lit("B"))
            .alias("variant"),
            "conv",
        )
    )
    agg = per_user.agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == "A", F.col("conv")).otherwise(0)).alias(
            "conv_a"
        ),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("variant") == "B", F.col("conv")).otherwise(0)).alias(
            "conv_b"
        ),
    )
    p_a = F.try_divide(F.col("conv_a"), F.col("n_a"))
    p_b = F.try_divide(F.col("conv_b"), F.col("n_b"))
    p_pool = (F.col("conv_a") + F.col("conv_b")) / (
        F.col("n_a") + F.col("n_b")
    )
    denom = F.sqrt(
        p_pool
        * (F.lit(1.0) - p_pool)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return agg.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        p_a.alias("rate_a"),
        p_b.alias("rate_b"),
        (p_a - p_b).alias("rate_diff"),
        F.when(
            (F.col("n_a") > 0)
            & (F.col("n_b") > 0)
            & (F.col("conv_a") + F.col("conv_b") > 0)
            & (F.col("conv_a") + F.col("conv_b") < F.col("n_a") + F.col("n_b")),
            (p_a - p_b) / denom,
        ).alias("z_score"),
    )


register(experiment_ab_ztest, f"""
WITH u AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' AND value >= {CONV_VALUE_MIN}
                  THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1
), v AS (
  SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS variant, conv
  FROM u
), a AS (
  SELECT
    CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS BIGINT)
      AS conv_a,
    CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(SUM(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS BIGINT)
      AS conv_b
  FROM v
)
SELECT n_a, conv_a, n_b, conv_b,
       CASE WHEN n_a > 0 THEN conv_a * 1.0 / n_a END AS rate_a,
       CASE WHEN n_b > 0 THEN conv_b * 1.0 / n_b END AS rate_b,
       CASE WHEN n_a > 0 AND n_b > 0
            THEN conv_a * 1.0 / n_a - conv_b * 1.0 / n_b END AS rate_diff,
       CASE WHEN n_a > 0 AND n_b > 0 AND conv_a + conv_b > 0
                 AND conv_a + conv_b < n_a + n_b
            THEN (conv_a * 1.0 / n_a - conv_b * 1.0 / n_b)
                 / sqrt((conv_a + conv_b) * 1.0 / (n_a + n_b)
                        * (1.0 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)) END AS z_score
FROM a
""")


# ---------------------------------------------------------------------------
# Session path analysis: gap-based sessionization (a new session after
# ≥60 min of inactivity — the batch answer to the streaming session
# window q21 family), each session reduced to its first-5-step
# event-type path, and the global top-20 paths by frequency. The
# "how do users move through the product" panel.
# Plan / 100 TB: sessionization is the two classic USER-keyed windows
# (lag → gap flag → running session index); the path build is one
# groupBy(user, session) with an order-preserving conditional
# collect_list (≤5 structs per session — bounded state); the final
# top-20 is orderBy+limit = TakeOrderedAndProject (a per-partition
# k-heap + driver merge over the path-TYPE table, ≤ types⁵ rows —
# never a global sort of sessions).
# ---------------------------------------------------------------------------
SESSION_GAP_S = 3600
PATH_STEPS = 5
PATH_TOPK = 20


def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type",
        F.expr(_SECS.format(c="ts")).alias("s"),
    )
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_cum = w_u.rowsBetween(Window.unboundedPreceding, 0)
    sess = ev.withColumn(
        "new_sess",
        F.when(
            (F.col("s") - F.lag("s").over(w_u)) > SESSION_GAP_S, 1
        )
        .when(F.lag("s").over(w_u).isNull(), 1)
        .otherwise(0),
    ).withColumn("sess_id", F.sum("new_sess").over(w_cum))
    stepped = sess.withColumn("rn", F.row_number().over(
        Window.partitionBy("user_id", "sess_id").orderBy("ts", "event_id")
    ))
    per_sess = stepped.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).alias("sess_len"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("rn") <= PATH_STEPS,
                            F.struct("rn", "event_type"),
                        )
                    )
                ),
                lambda x: x.event_type,
            ),
            ">",
        ).alias("path"),
    )
    top = (
        per_sess.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.avg("sess_len").alias("avg_sess_len"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(PATH_TOPK)
    )
    return top


register(session_path_topk, f"""
WITH e AS (
  SELECT user_id, ts, event_id, event_type,
         {_SECS_SQL.format(c="ts")} AS s
  FROM events
), f AS (
  SELECT *,
         CASE WHEN LAG(s) OVER w IS NULL THEN 1
              WHEN s - LAG(s) OVER w > {SESSION_GAP_S} THEN 1
              ELSE 0 END AS new_sess
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), g AS (
  SELECT *,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS sess_id
  FROM f
), h AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY user_id, sess_id
                            ORDER BY ts, event_id) AS rn
  FROM g
), p AS (
  SELECT user_id, sess_id, CAST(COUNT(*) AS BIGINT) AS sess_len,
         string_agg(CASE WHEN rn <= {PATH_STEPS} THEN event_type END, '>'
                    ORDER BY rn) AS path
  FROM h GROUP BY 1, 2
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       AVG(sess_len) AS avg_sess_len
FROM p GROUP BY 1
ORDER BY n_sessions DESC, path
LIMIT {PATH_TOPK}
""")


# ---------------------------------------------------------------------------
# RFM customer segmentation over the orders table: recency (days since
# last order, vs the corpus max date), frequency (order count) and
# monetary (exact decimal revenue) per customer, each scored 1-4 by
# EXACT quartiles, rolled up to one row per R{r}F{f}M{m} segment — the
# classic CRM segmentation (and the curriculum_length_phases quartile
# pattern applied to three dimensions at once).
# Plan / 100 TB: per-customer aggregate (customers-sized, map-side
# combined); quartile boundaries are ONE 1-row exact-percentile panel
# broadcast back (NESTED_LOOP_ALLOWLIST; at 100 TB the flip is the
# same one-line _pctl(approx=True) swap mechanized and tolerance-tested
# on the MAD/funnel-lag/shipping panels); the rollup
# is ≤64 segment rows. Quartiles interpolate INTEGER metrics (days,
# counts, exact cents from the DECIMAL sum) so the boundary doubles are
# engine-exact (the curriculum trick), and monetary never compares a
# FP-accumulated double against a threshold.
# ---------------------------------------------------------------------------
_RFM_QS = "array(0.25D, 0.5D, 0.75D)"


def rfm_segment_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = F.expr(_DAYS.format(c="o_orderdate"))
    cust = (
        load(spark, sf_dir, "orders")
        .select("o_custkey", day.alias("d"), "o_totalprice")
        .groupBy("o_custkey")
        .agg(
            F.max("d").alias("d_last"),
            F.count(F.lit(1)).alias("freq"),
            (F.sum(F.col("o_totalprice").cast(DEC)) * 100)
            .cast("bigint")
            .alias("m_cents"),
        )
    )
    ref = cust.agg(F.max("d_last").alias("d_max"))
    rfm = cust.crossJoin(F.broadcast(ref)).select(
        (F.col("d_max") - F.col("d_last")).alias("rec_days"),
        "freq",
        "m_cents",
    )
    bounds = rfm.agg(
        F.expr(f"percentile(rec_days, {_RFM_QS})").alias("rq"),
        F.expr(f"percentile(freq, {_RFM_QS})").alias("fq"),
        F.expr(f"percentile(m_cents, {_RFM_QS})").alias("mq"),
    )

    def _hi_score(c, q):  # higher value → higher score
        return (
            F.when(F.col(c) <= F.col(q)[0], 1)
            .when(F.col(c) <= F.col(q)[1], 2)
            .when(F.col(c) <= F.col(q)[2], 3)
            .otherwise(4)
        )

    def _lo_score(c, q):  # lower value (recency) → higher score
        return (
            F.when(F.col(c) <= F.col(q)[0], 4)
            .when(F.col(c) <= F.col(q)[1], 3)
            .when(F.col(c) <= F.col(q)[2], 2)
            .otherwise(1)
        )

    scored = rfm.crossJoin(F.broadcast(bounds)).select(
        F.concat(
            F.lit("R"),
            _lo_score("rec_days", "rq").cast("string"),
            F.lit("F"),
            _hi_score("freq", "fq").cast("string"),
            F.lit("M"),
            _hi_score("m_cents", "mq").cast("string"),
        ).alias("segment"),
        "rec_days",
        "freq",
        "m_cents",
    )
    return scored.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.avg("rec_days").alias("avg_recency_days"),
        F.avg("freq").alias("avg_frequency"),
        (F.avg("m_cents") / 100.0).alias("avg_monetary"),
    )


register(rfm_segment_panel, f"""
WITH cust AS (
  SELECT o_custkey, MAX({_DAYS_SQL.format(c="o_orderdate")}) AS d_last,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100 AS BIGINT)
           AS m_cents
  FROM orders GROUP BY 1
), rfm AS (
  SELECT (SELECT MAX(d_last) FROM cust) - d_last AS rec_days,
         freq, m_cents
  FROM cust
), b AS (
  SELECT quantile_cont(rec_days, [0.25, 0.5, 0.75]) AS rq,
         quantile_cont(freq, [0.25, 0.5, 0.75]) AS fq,
         quantile_cont(m_cents, [0.25, 0.5, 0.75]) AS mq
  FROM rfm
), s AS (
  SELECT 'R' ||
         CASE WHEN rec_days <= b.rq[1] THEN 4
              WHEN rec_days <= b.rq[2] THEN 3
              WHEN rec_days <= b.rq[3] THEN 2 ELSE 1 END ||
         'F' ||
         CASE WHEN freq <= b.fq[1] THEN 1
              WHEN freq <= b.fq[2] THEN 2
              WHEN freq <= b.fq[3] THEN 3 ELSE 4 END ||
         'M' ||
         CASE WHEN m_cents <= b.mq[1] THEN 1
              WHEN m_cents <= b.mq[2] THEN 2
              WHEN m_cents <= b.mq[3] THEN 3 ELSE 4 END AS segment,
         rec_days, freq, m_cents
  FROM rfm, b
)
SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
       AVG(rec_days) AS avg_recency_days,
       AVG(freq) AS avg_frequency,
       AVG(m_cents) / 100.0 AS avg_monetary
FROM s GROUP BY 1
""")


# ---------------------------------------------------------------------------
# Stationary distribution of the event-type Markov chain: collect the
# types²-bounded transition matrix (≤25 rows — the kmeans/Bradley-Terry
# bounded-collect discipline), power-iterate π ← πP driver-side for
# STAT_ITERS steps from uniform, and report π next to the empirical
# long-run occupancy (share of transition targets) with the gap — the
# "is the clickstream at steady state" panel.
# Plan / 100 TB: all corpus-sized work is the SAME user-keyed lead
# window + types²-bounded aggregate as markov_event_transitions (shared
# helper — the two cannot drift); the iteration itself touches ≤
# types² numbers on the driver. Transitions into types never observed
# as a source (dangling states) are dropped and rows renormalized —
# identically in both engines — so P stays row-stochastic.
# Oracle: a STAT_ITERS-step MATERIALIZED-CTE unroll of the same power
# iteration (the pref_bradley_terry pattern) — convergence makes the
# two engines' accumulation orders agree far inside the 4dp hash.
# ---------------------------------------------------------------------------
STAT_ITERS = 40


def _transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(from_type, to_type, n_trans) via the user-keyed lead window."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), "to_type")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )


def markov_stationary_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = _transition_counts(spark, sf_dir).collect()  # types²-bounded
    sources = {r.from_type for r in rows}
    kept = [r for r in rows if r.to_type in sources]
    out_tot: dict[str, int] = {}
    for r in kept:
        out_tot[r.from_type] = out_tot.get(r.from_type, 0) + r.n_trans
    p = {
        (r.from_type, r.to_type): r.n_trans / out_tot[r.from_type]
        for r in kept
    }
    states = sorted(out_tot)
    pi = {s: 1.0 / len(states) for s in states}
    for _ in range(STAT_ITERS):
        pi = {
            j: sum(pi[i] * p.get((i, j), 0.0) for i in states)
            for j in states
        }
    total = sum(r.n_trans for r in kept)
    emp = {s: 0 for s in states}
    for r in kept:
        emp[r.to_type] += r.n_trans
    out = [
        (s, pi[s], emp[s] / total, abs(pi[s] - emp[s] / total))
        for s in states
    ]
    return spark.createDataFrame(
        out,
        "event_type string, stationary_p double, empirical_share double,"
        " abs_gap double",
    )


def _stationary_oracle() -> str:
    steps = []
    for k in range(1, STAT_ITERS + 1):
        steps.append(
            # MATERIALIZED for the same reason as the Bradley-Terry
            # unroll: each step references the previous once per join
            # side and DuckDB would inline the chain exponentially
            f"""s{k} AS MATERIALIZED (
  SELECT m.j AS t, SUM(s{k - 1}.p * m.pt) AS p
  FROM s{k - 1} JOIN m ON m.i = s{k - 1}.t
  GROUP BY 1
),"""
        )
    unroll = "\n".join(steps)
    return f"""
WITH seq AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM events
), pr AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_trans
  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
), kept AS (
  SELECT * FROM pr
  WHERE to_type IN (SELECT DISTINCT from_type FROM pr)
), t AS (
  SELECT from_type, SUM(n_trans) AS n_from FROM kept GROUP BY 1
), m AS (
  SELECT kept.from_type AS i, kept.to_type AS j,
         kept.n_trans * 1.0 / t.n_from AS pt
  FROM kept JOIN t ON t.from_type = kept.from_type
), states AS (SELECT DISTINCT i AS t FROM m),
s0 AS (
  SELECT t, 1.0 / (SELECT COUNT(*) FROM states) AS p FROM states
),
{unroll}
emp AS (
  SELECT to_type AS t,
         SUM(n_trans) * 1.0 / (SELECT SUM(n_trans) FROM kept) AS share
  FROM kept GROUP BY 1
)
SELECT s.t AS event_type, s.p AS stationary_p,
       emp.share AS empirical_share, abs(s.p - emp.share) AS abs_gap
FROM s{STAT_ITERS} s JOIN emp ON emp.t = s.t
"""


register(markov_stationary_panel, _stationary_oracle())


# ---------------------------------------------------------------------------
# SCD Type-2 dimension build from the signup event stream: each user's
# signup values become versioned rows with [valid_from, valid_to)
# intervals, a version number, and an is_current flag — the warehouse
# primitive that PRODUCES the versioned table the temporal as-of join
# (queries/temporal_q.py:temporal_join_events) consumes. Same
# latest-write-wins (user, ts) dedup as that query, so the two
# compose.
# Plan / 100 TB: two USER-keyed windows (dedup row_number + lead) over
# the signup-filtered scan — the filter reaches parquet, the windows
# are hash-partitioned on user, output is versions-sized. No global
# ordering anywhere.
# ---------------------------------------------------------------------------
def scd2_dimension_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    dedup = Window.partitionBy("user_id", "ts").orderBy(
        F.col("event_id").desc()
    )
    versions = (
        ev.filter(F.col("event_type") == "signup")
        .withColumn("_rn", F.row_number().over(dedup))
        .filter(F.col("_rn") == 1)
        .select("user_id", "ts", F.col("value").alias("signup_value"))
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    return versions.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        "signup_value",
        F.row_number().over(w).cast("int").alias("version_n"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


register(scd2_dimension_build, """
WITH s AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, ts
                            ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'signup'
), v AS (SELECT user_id, ts, value FROM s WHERE rn = 1)
SELECT user_id,
       ts AS valid_from,
       LEAD(ts) OVER w AS valid_to,
       value AS signup_value,
       CAST(ROW_NUMBER() OVER w AS INTEGER) AS version_n,
       LEAD(ts) OVER w IS NULL AS is_current
FROM v
WINDOW w AS (PARTITION BY user_id ORDER BY ts)
""")


# ---------------------------------------------------------------------------
# Robust anomaly panel: per event type, the median / MAD (median
# absolute deviation) of the value distribution and the count of
# values outside med ± 3·1.4826·MAD — the outlier detector that
# (unlike the q19 z-score family) is itself immune to the outliers it
# hunts. 1.4826 is the standard consistency constant making MAD
# estimate σ under normality.
# Plan / 100 TB: two keyed exact-percentile aggregates (≤ types
# groups) + joins on the ≤5-key type column + one conditional count
# pass. Exact percentile buffers per group at this SF;
# the approx_percentile flip is a mechanism: approx=True (_pctl; the
# dq_table_profile / rfm trade).
# ---------------------------------------------------------------------------
MAD_K = 3 * 1.4826


def anomaly_mad_events(
    spark: SparkSession, sf_dir: str, approx: bool = False
) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        _pctl("value", 0.5, approx).alias("med_v")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med_v",
        F.abs(F.col("value") - F.col("med_v")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        _pctl("adev", 0.5, approx).alias("mad_v")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("med_v").alias("med_v"),
            F.min("mad_v").alias("mad_v"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("adev") > F.lit(MAD_K) * F.col("mad_v")).cast("int")
            ).alias("n_outliers"),
        )
        .select(
            "event_type", "med_v", "mad_v", "n", "n_outliers",
            (F.col("n_outliers") / F.col("n")).alias("outlier_rate"),
        )
    )


register(anomaly_mad_events, f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med_v
  FROM events GROUP BY 1
), dev AS (
  SELECT e.event_type, e.value, med.med_v,
         abs(e.value - med.med_v) AS adev
  FROM events e JOIN med ON med.event_type = e.event_type
), mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad_v
  FROM dev GROUP BY 1
)
SELECT dev.event_type, MIN(dev.med_v) AS med_v, MIN(mad.mad_v) AS mad_v,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN dev.adev > {MAD_K!r} * mad.mad_v
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       SUM(CASE WHEN dev.adev > {MAD_K!r} * mad.mad_v
                THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS outlier_rate
FROM dev JOIN mad ON mad.event_type = dev.event_type
GROUP BY 1
""")


# ---------------------------------------------------------------------------
# Market-basket association rules (Agrawal & Srikant 1994 semantics at
# the category level): baskets are orders, items are part TYPES (6
# values — category-level co-occurrence is dense where raw part pairs
# are near-unique), and every directed rule A→B gets support,
# confidence and lift. The retail-analytics primitive next to RFM.
# Plan / 100 TB: lineitem⋈part is a hash join on partkey (part is
# SF-linear — deliberately NOT broadcast; AQE may still elect it at
# small SF), the basket table is the distinct (order, type) collapse,
# and the pair build is an ORDER-keyed self-join with per-basket
# fan-out bounded by the category count (≤6·5/2 pairs per order — the
# hub-cap property the dedup family's candidate joins rely on). Item
# and basket totals ride as ≤types-row / 1-row broadcasts; output is
# the ≤types² rule table.
# ---------------------------------------------------------------------------
def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    baskets = (
        li.join(pt, li.l_orderkey.isNotNull() & (li.l_partkey == pt.p_partkey))
        .select(F.col("l_orderkey").alias("k"), F.col("p_type").alias("i"))
        .distinct()
    )
    n_baskets = baskets.agg(
        F.countDistinct("k").alias("n_baskets")
    )
    items = baskets.groupBy("i").agg(F.count(F.lit(1)).alias("n_item"))
    # Round 12 (guide §2.4/§3, the dedup_minhash_lsh bucket idiom): the
    # a⋈b self-join on k read the baskets subtree twice and emitted both
    # orientations before the ia<ib filter; grouping each basket's
    # distinct items once and emitting i<j pairs from the sorted array
    # is one pass, one k-keyed shuffle, half the emitted rows. Baskets
    # are distinct by construction, so set semantics are identical.
    buckets = (
        baskets.groupBy("k")
        .agg(F.sort_array(F.collect_set("i")).alias("items"))
        .filter(F.size("items") > 1)
    )
    # NB: 2-ary transform lambda — PySpark passes the element index
    pair_structs = F.flatten(
        F.transform(
            "items",
            lambda x, i: F.transform(
                F.slice("items", i + 2, F.size("items")),
                lambda y: F.struct(x.alias("ia"), y.alias("ib")),
            ),
        )
    )
    pairs = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.ia", "p.ib")
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    directed = pairs.unionByName(
        pairs.select(
            F.col("ib").alias("ia"), F.col("ia").alias("ib"), "n_pair"
        )
    )
    rules = (
        directed.join(
            F.broadcast(items.select(F.col("i").alias("ia"),
                                     F.col("n_item").alias("n_ante"))),
            "ia",
        )
        .join(
            F.broadcast(items.select(F.col("i").alias("ib"),
                                     F.col("n_item").alias("n_cons"))),
            "ib",
        )
        .crossJoin(F.broadcast(n_baskets))
    )
    return rules.select(
        F.col("ia").alias("antecedent"),
        F.col("ib").alias("consequent"),
        "n_pair",
        "n_ante",
        "n_cons",
        (F.col("n_pair") / F.col("n_baskets")).alias("support"),
        (F.col("n_pair") / F.col("n_ante")).alias("confidence"),
        (
            (F.col("n_pair") / F.col("n_ante"))
            / (F.col("n_cons") / F.col("n_baskets"))
        ).alias("lift"),
    )


register(market_basket_rules, """
WITH b AS (
  SELECT DISTINCT l.l_orderkey AS k, p.p_type AS i
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), nb AS (
  SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS n_baskets FROM b
), items AS (
  SELECT i, CAST(COUNT(*) AS BIGINT) AS n_item FROM b GROUP BY 1
), pairs AS (
  SELECT a.i AS ia, b2.i AS ib, CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM b a JOIN b b2 ON a.k = b2.k AND a.i < b2.i
  GROUP BY 1, 2
), directed AS (
  SELECT ia, ib, n_pair FROM pairs
  UNION ALL
  SELECT ib, ia, n_pair FROM pairs
)
SELECT d.ia AS antecedent, d.ib AS consequent, d.n_pair,
       ante.n_item AS n_ante, cons.n_item AS n_cons,
       d.n_pair * 1.0 / nb.n_baskets AS support,
       d.n_pair * 1.0 / ante.n_item AS confidence,
       (d.n_pair * 1.0 / ante.n_item)
         / (cons.n_item * 1.0 / nb.n_baskets) AS lift
FROM directed d
JOIN items ante ON ante.i = d.ia
JOIN items cons ON cons.i = d.ib
CROSS JOIN nb
""")


# ---------------------------------------------------------------------------
# CUPED variance-reduced experiment read-out (Deng, Xu, Kohavi & Walker
# 2013): the A/B panel re-estimated with the user's PRE-period activity
# as the control covariate — Y_adj = Y − θ(X − X̄) with pooled
# θ = cov(X,Y)/var(X). X = events before the split day, Y = purchases
# on/after it (both INTEGERS, so every moment is an exact integer sum
# and the panel's doubles are single closed-form expressions —
# bit-identical across engines). Reports θ, the raw and adjusted
# treatment effects, their z statistics, and the variance reduction —
# the number that justifies running CUPED at all.
# Plan / 100 TB: one user-keyed conditional aggregate, then ONE
# single-row moment aggregation (Σx, Σy, Σxy, Σx², Σy² per arm by
# conditional sums); zero joins, zero windows.
# ---------------------------------------------------------------------------
CUPED_SPLIT_DAY = 19738  # 2024-01-16, the fixture's experiment start


def experiment_cuped_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = F.expr(_DAYS.format(c="ts"))
    per_user = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            day.alias("d"),
            (F.col("event_type") == "purchase").cast("int").alias("is_p"),
        )
        .groupBy("user_id")
        .agg(
            F.sum(
                (F.col("d") < CUPED_SPLIT_DAY).cast("int")
            ).alias("x"),
            F.sum(
                F.when(F.col("d") >= CUPED_SPLIT_DAY, F.col("is_p")).otherwise(0)
            ).alias("y"),
        )
        .select(
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
                < F.lit("8"),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("is_a"),
            "x",
            "y",
        )
    )
    m = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum("is_a").alias("n_a"),
        F.sum(F.col("is_a") * F.col("x")).alias("sx_a"),
        F.sum(F.col("is_a") * F.col("y")).alias("sy_a"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    var_x = (F.col("sxx") - sx * sx / n) / n
    var_y = (F.col("syy") - sy * sy / n) / n
    cov_xy = (F.col("sxy") - sx * sy / n) / n
    theta = cov_xy / var_x
    n_b = n - F.col("n_a")
    mean_y_a = F.col("sy_a") / F.col("n_a")
    mean_y_b = (sy - F.col("sy_a")) / n_b
    mean_x_a = F.col("sx_a") / F.col("n_a")
    mean_x_b = (sx - F.col("sx_a")) / n_b
    diff_raw = mean_y_a - mean_y_b
    diff_cuped = diff_raw - theta * (mean_x_a - mean_x_b)
    var_adj = var_y - F.lit(2.0) * theta * cov_xy + theta * theta * var_x
    se_raw = F.sqrt(var_y / F.col("n_a") + var_y / n_b)
    se_adj = F.sqrt(var_adj / F.col("n_a") + var_adj / n_b)
    return m.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        n_b.cast("bigint").alias("n_b"),
        theta.alias("theta"),
        diff_raw.alias("diff_raw"),
        diff_cuped.alias("diff_cuped"),
        (diff_raw / se_raw).alias("z_raw"),
        (diff_cuped / se_adj).alias("z_cuped"),
        var_y.alias("var_y"),
        var_adj.alias("var_y_adj"),
        (F.lit(1.0) - var_adj / var_y).alias("var_reduction"),
    )


register(experiment_cuped_panel, f"""
WITH u AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN d < {CUPED_SPLIT_DAY} THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN d >= {CUPED_SPLIT_DAY} THEN is_p ELSE 0 END)
              AS BIGINT) AS y
  FROM (SELECT user_id, {_DAYS_SQL.format(c="ts")} AS d,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
        FROM events)
  GROUP BY 1
), v AS (
  SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 1 ELSE 0 END AS is_a, x, y
  FROM u
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(is_a) AS BIGINT) AS n_a,
         CAST(SUM(is_a * x) AS BIGINT) AS sx_a,
         CAST(SUM(is_a * y) AS BIGINT) AS sy_a
  FROM v
)
SELECT n_a, CAST(n - n_a AS BIGINT) AS n_b,
       ((sxy - sx * 1.0 * sy / n) / n)
         / ((sxx - sx * 1.0 * sx / n) / n) AS theta,
       sy_a * 1.0 / n_a - (sy - sy_a) * 1.0 / (n - n_a) AS diff_raw,
       (sy_a * 1.0 / n_a - (sy - sy_a) * 1.0 / (n - n_a))
         - ((sxy - sx * 1.0 * sy / n) / n)
           / ((sxx - sx * 1.0 * sx / n) / n)
           * (sx_a * 1.0 / n_a - (sx - sx_a) * 1.0 / (n - n_a))
         AS diff_cuped,
       (sy_a * 1.0 / n_a - (sy - sy_a) * 1.0 / (n - n_a))
         / sqrt(((syy - sy * 1.0 * sy / n) / n) * 1.0 / n_a
                + ((syy - sy * 1.0 * sy / n) / n) * 1.0 / (n - n_a))
         AS z_raw,
       ((sy_a * 1.0 / n_a - (sy - sy_a) * 1.0 / (n - n_a))
         - ((sxy - sx * 1.0 * sy / n) / n)
           / ((sxx - sx * 1.0 * sx / n) / n)
           * (sx_a * 1.0 / n_a - (sx - sx_a) * 1.0 / (n - n_a)))
         / sqrt((((syy - sy * 1.0 * sy / n) / n)
                 - 2.0 * (((sxy - sx * 1.0 * sy / n) / n)
                          / ((sxx - sx * 1.0 * sx / n) / n))
                       * ((sxy - sx * 1.0 * sy / n) / n)
                 + (((sxy - sx * 1.0 * sy / n) / n)
                    / ((sxx - sx * 1.0 * sx / n) / n))
                   * (((sxy - sx * 1.0 * sy / n) / n)
                      / ((sxx - sx * 1.0 * sx / n) / n))
                   * ((sxx - sx * 1.0 * sx / n) / n)) * 1.0 / n_a
                + (((syy - sy * 1.0 * sy / n) / n)
                   - 2.0 * (((sxy - sx * 1.0 * sy / n) / n)
                            / ((sxx - sx * 1.0 * sx / n) / n))
                         * ((sxy - sx * 1.0 * sy / n) / n)
                   + (((sxy - sx * 1.0 * sy / n) / n)
                      / ((sxx - sx * 1.0 * sx / n) / n))
                     * (((sxy - sx * 1.0 * sy / n) / n)
                        / ((sxx - sx * 1.0 * sx / n) / n))
                     * ((sxx - sx * 1.0 * sx / n) / n)) * 1.0 / (n - n_a))
         AS z_cuped,
       (syy - sy * 1.0 * sy / n) / n AS var_y,
       ((syy - sy * 1.0 * sy / n) / n)
         - 2.0 * (((sxy - sx * 1.0 * sy / n) / n)
                  / ((sxx - sx * 1.0 * sx / n) / n))
               * ((sxy - sx * 1.0 * sy / n) / n)
         + (((sxy - sx * 1.0 * sy / n) / n)
            / ((sxx - sx * 1.0 * sx / n) / n))
           * (((sxy - sx * 1.0 * sy / n) / n)
              / ((sxx - sx * 1.0 * sx / n) / n))
           * ((sxx - sx * 1.0 * sx / n) / n) AS var_y_adj,
       1.0 - (((syy - sy * 1.0 * sy / n) / n)
              - 2.0 * (((sxy - sx * 1.0 * sy / n) / n)
                       / ((sxx - sx * 1.0 * sx / n) / n))
                    * ((sxy - sx * 1.0 * sy / n) / n)
              + (((sxy - sx * 1.0 * sy / n) / n)
                 / ((sxx - sx * 1.0 * sx / n) / n))
                * (((sxy - sx * 1.0 * sy / n) / n)
                   / ((sxx - sx * 1.0 * sx / n) / n))
                * ((sxx - sx * 1.0 * sx / n) / n))
             / ((syy - sy * 1.0 * sy / n) / n) AS var_reduction
FROM m
""")


# ---------------------------------------------------------------------------
# Streaming twin of the session-path build: native Structured
# Streaming session windows (``F.session_window`` — the engine's own
# gap-merge operator, state per OPEN session only) producing the same
# per-session first-5-step path and length as the batch two-window
# sessionization. Semantics note: session_window merges an event into
# the session iff it arrives STRICTLY within the gap of the latest
# event (microsecond-exact), while the batch query floors timestamps
# to seconds first — the streaming differential in
# tests/test_behavior_ops.py therefore recomputes its expectation
# under the session_window rule rather than diffing the two queries
# against each other.
# 100 TB note: state is user×open-session-bounded and events stream
# through map tasks. Structured Streaming restricts session-window
# aggregation to APPEND output (update mode raises
# STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION — merging sessions
# can't re-key an update sink), so a session row is emitted exactly
# once, when the watermark passes its close; open sessions live only
# in state. That once-per-session append IS the production contract —
# no stale-fragment reconciliation is ever needed downstream.
# ---------------------------------------------------------------------------
def session_path_stream(
    events_stream: DataFrame, watermark_delay: str = "1 hour"
) -> DataFrame:
    """Append-mode session aggregate over an events STREAM with columns
    (ts timestamp, user_id, event_id, event_type). Emits one row per
    CLOSED (user, session window) carrying the session length and the
    first-PATH_STEPS path; attach any append sink."""
    return (
        events_stream.withWatermark("ts", watermark_delay)
        .groupBy(
            F.session_window("ts", "60 minutes").alias("sw"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("sess_len"),
            F.array_join(
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("ts", "event_id", "event_type")
                            )
                        ),
                        lambda x: x.event_type,
                    ),
                    1,
                    PATH_STEPS,
                ),
                ">",
            ).alias("path"),
        )
        .select(
            F.col("sw.start").alias("sess_start"),
            F.col("sw.end").alias("sess_end"),
            "user_id",
            "sess_len",
            "path",
        )
    )


# ---------------------------------------------------------------------------
# Streaming twin of the Markov transition build: the batch query's
# per-user lead() window cannot run on an unbounded stream, so the
# chaining state (each user's LAST event) moves into keyed state, folded
# by ``streaming.order.keyed_fold`` — the engine's custom-stateful-
# operator surface (the analog of the reference's KeyedProcessFunction
# + ValueState idiom: FT flink-streaming-java .../functions/
# KeyedProcessFunction.java with per-key state as in
# KeyedStream.java:1009's queryable ValueState; see streaming/core.py
# for the family mapping). Each micro-batch emits the per-user
# (from_type, to_type) transition-count INCREMENTS observed in that
# batch, chained across batches through the stored last event; a
# downstream aggregation (or the test's store) folds increments into
# the same transition matrix as the batch query. The driver folds the
# whole micro-batch in (ts, event_id) order — the batch query's exact
# lead() order — and enforces the per-user cross-batch ordering
# contract (a feed out of order raises;
# ``streaming.order.ordered_events_stream`` is the reorder stage to
# compose upstream when the raw feed is unordered).
# State per user is ONE (type, ts, event_id) triple — constant, never
# event-bounded.
# ---------------------------------------------------------------------------
def markov_transitions_stream(events_stream: DataFrame) -> DataFrame:
    """Per-micro-batch transition-count increments over an events
    STREAM with columns (ts timestamp, user_id, event_id, event_type).
    Emits (user_id, from_type, to_type, n_trans) rows in append mode;
    sum n_trans by (from_type, to_type) downstream to recover the
    batch ``markov_event_transitions`` counts."""
    from ..streaming.order import keyed_fold

    def chain(state, rows, _wm):
        (last_type,) = state
        counts: dict = {}
        for et in rows["event_type"].tolist():
            if last_type is not None:
                k = (last_type, et)
                counts[k] = counts.get(k, 0) + 1
            last_type = et
        return (last_type,), [(*k, counts[k]) for k in sorted(counts)], None

    return keyed_fold(
        events_stream,
        chain,
        "last_type string",
        (None,),
        "from_type string, to_type string, n_trans long",
    )


# ---------------------------------------------------------------------------
# Streaming twin of the weekly cohort-retention build: per user, keyed
# state holds the cohort week (first week ever seen) and the set of
# week OFFSETS already credited; each micro-batch emits one
# (cohort_week, week_offset) increment per newly-seen (user, week).
# Folding the increments gives the batch matrix exactly: n_active =
# increment count per (cohort, offset); n_cohort = offset-0 count per
# cohort (every user's first event emits offset 0).
# State per user is the cohort week + the offset set — bounded by the
# OBSERVATION SPAN in weeks (a time bound, not an event bound), the
# same boundedness class as the batch query's weeks² output — plus the
# (ts, event_id) feed position ``streaming.order.keyed_fold`` checks
# the ordering contract against. Under that contract the first-seen
# week IS the min week, so cohort assignment matches the batch MIN
# exactly; an out-of-order feed raises instead of silently assigning a
# later cohort.
# ---------------------------------------------------------------------------
def cohort_retention_stream(events_stream: DataFrame) -> DataFrame:
    """Append-mode (user_id, cohort_week, week_offset) increments over
    an events STREAM with columns (ts timestamp, user_id, event_id,
    ...). Each (user, week) is credited exactly once across the whole
    stream."""
    from ..streaming.order import keyed_fold

    def credit(state, rows, _wm):
        cohort, seen = state
        seen = set(seen)
        fresh = []
        for wk in (t // 1_000_000 // 86400 // 7 for t in rows["ts"].tolist()):
            if cohort is None:
                cohort = wk
            off = wk - cohort
            if off not in seen:
                seen.add(off)
                fresh.append(off)
        out = [(cohort, off) for off in sorted(fresh)]
        return (cohort, sorted(seen)), out, None

    return keyed_fold(
        events_stream,
        credit,
        "cohort_week long, seen array<long>",
        (None, []),
        "cohort_week long, week_offset long",
    )


# ---------------------------------------------------------------------------
# Streaming twin of the CDC merge: the MERGE INTO panel's latest-wins
# semantics as a live UPSERT CHANGELOG — the form a streaming CDC
# consumer (Flink upsert stream / Kafka log-compacted topic reader)
# actually maintains. Keyed state per user holds the visible dimension
# view (latest signup value; tombstoned while the user's most recent
# event of ANY type is an error — the batch op's delete-wins rule);
# each micro-batch emits one changelog row per user whose VISIBLE view
# net-changed in that batch, classified insert / update / delete.
# Internal churn that leaves the view unchanged (e.g. a new signup
# while tombstoned) emits nothing — the changelog is the view's
# derivative, not the event stream's.
# State per user is one (has, value, deleted, ts, id) record —
# constant; the ordering contract is ``streaming.order.keyed_fold``'s.
# ---------------------------------------------------------------------------
def cdc_upsert_stream(events_stream: DataFrame) -> DataFrame:
    """Append-mode changelog (user_id, op, v, ts) over an events STREAM
    with columns (ts timestamp, user_id, event_id, event_type, value):
    op ∈ {insert, update, delete}; v is the new visible value (null for
    delete). Replaying the changelog reproduces the latest-wins
    dimension view at every batch boundary."""
    from ..streaming.order import keyed_fold

    def merge(state, rows, _wm):
        has, v, dead = state
        prev_visible = None if (dead or not has) else v
        for et, val in zip(rows["event_type"].tolist(), rows["value"].tolist()):
            if et == "signup":
                has, v = True, float(val)
            dead = et == "error"
        visible = None if (dead or not has) else v
        # NaN-aware no-op suppression: a signup carrying a null/NaN value
        # makes `visible` NaN, and NaN != NaN would otherwise re-emit a
        # spurious 'update' in every later batch the user appears in.
        same = visible == prev_visible or (
            visible is not None
            and prev_visible is not None
            and visible != visible
            and prev_visible != prev_visible
        )
        if same:
            return (has, v, dead), [], None
        op = (
            "delete"
            if visible is None
            else ("insert" if prev_visible is None else "update")
        )
        return (has, v, dead), [(op, visible, rows["ts"].iloc[-1])], None

    return keyed_fold(
        events_stream,
        merge,
        "has boolean, v double, dead boolean",
        (False, 0.0, False),
        "op string, v double, ts timestamp",
    )


# ---------------------------------------------------------------------------
# Chi-square independence panel: is order PRIORITY independent of the
# DAY-OF-WEEK the order was placed? The contingency-table test every
# BI layer ships (and the q50 cube's inferential complement). Emits
# the statistic, degrees of freedom, and Cramér's V effect size.
# Plan / 100 TB: one pass collapses orders to the 7×(priorities)
# contingency table (map-side combined); expected counts come from
# the row/column marginals of that BOUNDED table (two keyed joins on
# ≤7/≤5 keys + a 1-row total); the statistic is a sum over ≤35 cells.
# Day-of-week from the epoch-day floor ((d + 4) % 7 — 1970-01-01 was
# a Thursday), identical arithmetic in both engines.
# ---------------------------------------------------------------------------
def orders_independence_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = F.expr(_DAYS.format(c="o_orderdate"))
    obs = (
        load(spark, sf_dir, "orders")
        .select(
            ((day + 4) % 7).alias("dow"),
            F.col("o_orderpriority").alias("prio"),
        )
        .groupBy("dow", "prio")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rows_m = obs.groupBy("dow").agg(F.sum("o").alias("n_row"))
    cols_m = obs.groupBy("prio").agg(F.sum("o").alias("n_col"))
    tot = obs.agg(F.sum("o").alias("n_tot"))
    cells = (
        obs.join(F.broadcast(rows_m), "dow")
        .join(F.broadcast(cols_m), "prio")
        .crossJoin(F.broadcast(tot))
        .select(
            "o",
            (
                F.col("n_row") * F.col("n_col") / F.col("n_tot")
            ).alias("e"),
        )
    )
    chi2 = F.sum(
        (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    )
    panel = cells.agg(
        chi2.alias("chi2"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    dims = rows_m.agg(F.count(F.lit(1)).alias("n_rows")).crossJoin(
        cols_m.agg(F.count(F.lit(1)).alias("n_cols"))
    )
    return (
        panel.crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(tot))
        .select(
            "chi2",
            ((F.col("n_rows") - 1) * (F.col("n_cols") - 1))
            .cast("bigint")
            .alias("dof"),
            "n_cells",
            "n_tot",
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n_tot")
                    * F.least(F.col("n_rows") - 1, F.col("n_cols") - 1)
                )
            ).alias("cramers_v"),
        )
    )


register(orders_independence_chi2, f"""
WITH obs AS (
  SELECT ({_DAYS_SQL.format(c="o_orderdate")} + 4) % 7 AS dow,
         o_orderpriority AS prio, CAST(COUNT(*) AS BIGINT) AS o
  FROM orders GROUP BY 1, 2
), r AS (SELECT dow, SUM(o) AS n_row FROM obs GROUP BY 1),
c AS (SELECT prio, SUM(o) AS n_col FROM obs GROUP BY 1),
t AS (SELECT CAST(SUM(o) AS BIGINT) AS n_tot FROM obs),
cells AS (
  SELECT obs.o, r.n_row * 1.0 * c.n_col / t.n_tot AS e
  FROM obs JOIN r ON r.dow = obs.dow
           JOIN c ON c.prio = obs.prio
           CROSS JOIN t
), p AS (
  SELECT SUM((o - e) * (o - e) / e) AS chi2,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM cells
), d AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM r) AS n_rows,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_cols
)
SELECT p.chi2,
       CAST((d.n_rows - 1) * (d.n_cols - 1) AS BIGINT) AS dof,
       p.n_cells, t.n_tot,
       sqrt(p.chi2 / (t.n_tot * least(d.n_rows - 1, d.n_cols - 1)))
         AS cramers_v
FROM p, d, t
""")


# ---------------------------------------------------------------------------
# Funnel lag percentiles: for users who completed each funnel
# step-pair IN ORDER (the funnel_conversion_events first-hit
# semantics), the exact quartiles of the transition lag in whole
# minutes — "how long does view→click take" next to "how many
# convert". Integer-minute lags keep the interpolated quartiles
# engine-exact (the curriculum/rfm trick).
# Plan / 100 TB: the same three user-keyed first-hit joins as the
# funnel, then one ≤2-group exact-percentile aggregate;
# the approx_percentile flip is a mechanism (approx=True via _pctl).
# ---------------------------------------------------------------------------
def funnel_lag_percentiles(
    spark: SparkSession, sf_dir: str, approx: bool = False
) -> DataFrame:
    from .temporal_q import FUNNEL_STEPS

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr(_SECS.format(c="ts")).alias("s")
    )
    s1 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("s").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .filter(F.col("s") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("s").alias("t2"), F.min("t1").alias("t1_"))
    )
    s3 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .filter(F.col("s") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("s").alias("t3"), F.min("t2").alias("t2_"))
    )
    lag1 = s2.select(
        F.lit(f"{FUNNEL_STEPS[0]}->{FUNNEL_STEPS[1]}").alias("step_pair"),
        F.floor((F.col("t2") - F.col("t1_")) / F.lit(60)).alias("lag_min"),
    )
    lag2 = s3.select(
        F.lit(f"{FUNNEL_STEPS[1]}->{FUNNEL_STEPS[2]}").alias("step_pair"),
        F.floor((F.col("t3") - F.col("t2_")) / F.lit(60)).alias("lag_min"),
    )
    return (
        lag1.unionByName(lag2)
        .groupBy("step_pair")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            _pctl("lag_min", 0.25, approx).alias("p25_min"),
            _pctl("lag_min", 0.5, approx).alias("p50_min"),
            _pctl("lag_min", 0.75, approx).alias("p75_min"),
        )
    )


def _funnel_lag_oracle() -> str:
    from .temporal_q import FUNNEL_STEPS

    secs = _SECS_SQL.format(c="ts")
    return f"""
WITH e AS (
  SELECT user_id, event_type, {secs} AS s FROM events
), s1 AS (
  SELECT user_id, MIN(s) AS t1 FROM e
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY 1
), s2 AS (
  SELECT e.user_id, MIN(e.s) AS t2, MIN(s1.t1) AS t1_
  FROM e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.s > s1.t1
  GROUP BY 1
), s3 AS (
  SELECT e.user_id, MIN(e.s) AS t3, MIN(s2.t2) AS t2_
  FROM e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.s > s2.t2
  GROUP BY 1
), lags AS (
  SELECT '{FUNNEL_STEPS[0]}->{FUNNEL_STEPS[1]}' AS step_pair,
         CAST(floor((t2 - t1_) / 60) AS BIGINT) AS lag_min FROM s2
  UNION ALL
  SELECT '{FUNNEL_STEPS[1]}->{FUNNEL_STEPS[2]}',
         CAST(floor((t3 - t2_) / 60) AS BIGINT) FROM s3
)
SELECT step_pair, CAST(COUNT(*) AS BIGINT) AS n_users,
       quantile_cont(lag_min, 0.25) AS p25_min,
       quantile_cont(lag_min, 0.5) AS p50_min,
       quantile_cont(lag_min, 0.75) AS p75_min
FROM lags GROUP BY 1
"""


register(funnel_lag_percentiles, _funnel_lag_oracle())


# ---------------------------------------------------------------------------
# Revenue concentration panel ("80/20" read-out): the share of total
# revenue carried by customers above the P80 / P90 / P99 per-customer
# revenue thresholds, plus the thresholds themselves — concentration
# WITHOUT a customers-sized global sort (the Gini rank construction is
# deliberately avoided; exact quantile thresholds as a 1-row broadcast
# + conditional sums give the same business read-out with keyed
# aggregates only).
# Plan / 100 TB: per-customer DECIMAL-exact revenue (customers-sized,
# map-side combined), ONE exact-percentile 1-row panel (integer cents
# → engine-exact interpolation; approx_percentile is the documented
# flip), one conditional-sum pass. No global ordering anywhere.
# ---------------------------------------------------------------------------
def revenue_concentration_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            (F.sum(F.col("o_totalprice").cast(DEC)) * 100)
            .cast("bigint")
            .alias("m_cents")
        )
    )
    thr = cust.agg(
        F.expr("percentile(m_cents, array(0.8D, 0.9D, 0.99D))").alias("t"),
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("m_cents").alias("total_cents"),
    )
    joined = cust.crossJoin(F.broadcast(thr))
    shares = joined.agg(
        F.min("n_customers").alias("n_customers"),
        (F.min("total_cents") / F.lit(100.0)).alias("total_revenue"),
        F.min(F.col("t")[0]).alias("p80_cents"),
        F.min(F.col("t")[1]).alias("p90_cents"),
        F.min(F.col("t")[2]).alias("p99_cents"),
        (
            F.sum(
                F.when(F.col("m_cents") > F.col("t")[0], F.col("m_cents"))
                .otherwise(F.lit(0))
            )
            / F.sum("m_cents")
        ).alias("share_above_p80"),
        (
            F.sum(
                F.when(F.col("m_cents") > F.col("t")[1], F.col("m_cents"))
                .otherwise(F.lit(0))
            )
            / F.sum("m_cents")
        ).alias("share_above_p90"),
        (
            F.sum(
                F.when(F.col("m_cents") > F.col("t")[2], F.col("m_cents"))
                .otherwise(F.lit(0))
            )
            / F.sum("m_cents")
        ).alias("share_above_p99"),
    )
    return shares


register(revenue_concentration_panel, """
WITH cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100 AS BIGINT)
           AS m_cents
  FROM orders GROUP BY 1
), thr AS (
  SELECT quantile_cont(m_cents, [0.8, 0.9, 0.99]) AS t,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(m_cents) AS BIGINT) AS total_cents
  FROM cust
)
SELECT thr.n_customers,
       thr.total_cents / 100.0 AS total_revenue,
       thr.t[1] AS p80_cents,
       thr.t[2] AS p90_cents,
       thr.t[3] AS p99_cents,
       SUM(CASE WHEN cust.m_cents > thr.t[1] THEN cust.m_cents ELSE 0 END)
         * 1.0 / SUM(cust.m_cents) AS share_above_p80,
       SUM(CASE WHEN cust.m_cents > thr.t[2] THEN cust.m_cents ELSE 0 END)
         * 1.0 / SUM(cust.m_cents) AS share_above_p90,
       SUM(CASE WHEN cust.m_cents > thr.t[3] THEN cust.m_cents ELSE 0 END)
         * 1.0 / SUM(cust.m_cents) AS share_above_p99
FROM cust CROSS JOIN thr
GROUP BY 1, 2, 3, 4, 5
""")


# ---------------------------------------------------------------------------
# Hourly autocorrelation panel: per event type, the lag-1..6 Pearson
# autocorrelation of the DENSE hourly count series (missing hours = 0
# over the type's own span — the gapfill grid discipline). The
# time-series diagnostic behind seasonality detection and anomaly
# baselines.
# Plan / 100 TB: the corpus collapses to (type, hour) counts in one
# map-side-combined groupBy; the dense grid is a per-type sequence
# explode (linear in the type's own hour span — TIME-bounded); the
# lagged pairs are a keyed self-join on (type, h+k) fanned over the
# 6-row lag grid; every moment is an exact INTEGER sum, so r_k is a
# closed form identical in both engines.
# ---------------------------------------------------------------------------
AC_MAX_LAG = 6


def events_autocorrelation_panel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "timestampdiff(HOUR, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("h"),
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("c")
    )
    span = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = span.select(
        "event_type", F.explode(F.sequence("h0", "h1")).alias("h")
    )
    dense = grid.join(hourly, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("c", F.lit(0)).alias("c")
    )
    lags = spark.range(1, AC_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag_h")
    )
    a = dense.crossJoin(F.broadcast(lags)).select(
        "event_type", "lag_h", (F.col("h") + F.col("lag_h")).alias("hj"),
        F.col("c").alias("x"),
    )
    b = dense.select(
        "event_type", F.col("h").alias("hj"), F.col("c").alias("y")
    )
    pairs = a.join(b, ["event_type", "hj"])
    mom = pairs.groupBy("event_type", "lag_h").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = mom["n"] * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (mom["n"] * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (mom["n"] * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return mom.select(
        "event_type",
        "lag_h",
        F.col("n").alias("n_pairs"),
        F.when(den > 0, num.cast("double") / den).alias("autocorr"),
    )


register(events_autocorrelation_panel, f"""
WITH e AS (
  SELECT event_type,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT) AS h
  FROM events
), hourly AS (
  SELECT event_type, h, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY 1, 2
), span AS (
  SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1
), grid AS (
  SELECT event_type, UNNEST(range(h0, h1 + 1)) AS h FROM span
), dense AS (
  SELECT g.event_type, g.h, COALESCE(hourly.c, 0) AS c
  FROM grid g LEFT JOIN hourly
    ON g.event_type = hourly.event_type AND g.h = hourly.h
), lags AS (
  SELECT UNNEST(range(1, {AC_MAX_LAG + 1})) AS lag_h
), pairs AS (
  SELECT a.event_type, CAST(l.lag_h AS INTEGER) AS lag_h,
         a.c AS x, b.c AS y
  FROM dense a
  CROSS JOIN lags l
  JOIN dense b ON b.event_type = a.event_type
              AND b.h = a.h + l.lag_h
), mom AS (
  SELECT event_type, lag_h, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY 1, 2
)
SELECT event_type, lag_h, n AS n_pairs,
       CASE WHEN (CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(n * syy - sy * sy AS DOUBLE)) > 0
            THEN CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)) END
         AS autocorr
FROM mom
""")


# ---------------------------------------------------------------------------
# Discount elasticity OLS: per part category, the least-squares fit of
# quantity on discount (slope, intercept, r²) — "does a deeper
# discount move volume". The distributed-regression primitive next to
# the Zipf log-log fit and the CUPED θ.
# Plan / 100 TB: one hash join lineitem⋈part (part SF-linear, not
# broadcast), then ONE ≤types-group moment aggregate; the 2-decimal
# inputs make Σx/Σy/Σxy/Σx² exact in DECIMAL (the _util discipline) so
# the per-group closed forms are engine-identical.
# ---------------------------------------------------------------------------
def lineitem_discount_elasticity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_discount", "l_quantity"
    )
    pt = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(pt, li.l_partkey == pt.p_partkey).select(
        "p_type",
        F.col("l_discount").cast(DEC).alias("x"),
        F.col("l_quantity").cast(DEC).alias("y"),
    )
    mom = j.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n")
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / n
    var_x = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / n
    var_y = (F.col("syy") - F.col("sy") * F.col("sy") / n) / n
    slope = cov / var_x
    return mom.select(
        "p_type",
        n.alias("n_lines"),
        slope.alias("slope"),
        (F.col("sy") / n - slope * (F.col("sx") / n)).alias("intercept"),
        F.when(var_y > 0, cov * cov / (var_x * var_y)).alias("r2"),
    )


register(lineitem_discount_elasticity, """
WITH j AS (
  SELECT p.p_type,
         CAST(l.l_discount AS DECIMAL(18,4)) AS x,
         CAST(l.l_quantity AS DECIMAL(18,4)) AS y
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), mom AS (
  SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         CAST(SUM(y * y) AS DOUBLE) AS syy
  FROM j GROUP BY 1
)
SELECT p_type, n AS n_lines,
       ((sxy - sx * sy / n) / n) / ((sxx - sx * sx / n) / n) AS slope,
       sy / n - ((sxy - sx * sy / n) / n) / ((sxx - sx * sx / n) / n)
         * (sx / n) AS intercept,
       CASE WHEN (syy - sy * sy / n) / n > 0
            THEN ((sxy - sx * sy / n) / n) * ((sxy - sx * sy / n) / n)
                 / (((sxx - sx * sx / n) / n) * ((syy - sy * sy / n) / n))
       END AS r2
FROM mom
""")


# ---------------------------------------------------------------------------
# Concurrent-sessions timeline: the classic interval-count problem —
# for every hour of the corpus span, how many sessions (60-min-gap
# sessionization, shared rule with session_path_topk) were active, via
# the +1/−1 boundary-delta trick and a running sum over the hour grid.
# Peak concurrency is what capacity planning reads off this.
# Plan / 100 TB: sessionization = the two user-keyed windows; each
# session emits exactly two delta rows (+1 at its start hour, −1
# after its end hour) — the corpus collapses to ≤2·sessions deltas,
# then to ≤span-hours grid rows (TIME-bounded). The running sum is a
# global window over that hour grid — bounded by the time span, not
# the corpus (GLOBAL_WINDOW_ALLOWLIST, the KM/duration-grid
# discipline).
# ---------------------------------------------------------------------------
def concurrent_sessions_timeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.expr(_SECS.format(c="ts")).alias("s"),
    )
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_cum = w_u.rowsBetween(Window.unboundedPreceding, 0)
    sess = (
        ev.withColumn(
            "new_sess",
            F.when(
                (F.col("s") - F.lag("s").over(w_u)) > SESSION_GAP_S, 1
            )
            .when(F.lag("s").over(w_u).isNull(), 1)
            .otherwise(0),
        )
        .withColumn("sess_id", F.sum("new_sess").over(w_cum))
        .groupBy("user_id", "sess_id")
        .agg(
            F.floor(F.min("s") / 3600).alias("h0"),
            F.floor(F.max("s") / 3600).alias("h1"),
        )
    )
    deltas = sess.select(
        F.col("h0").alias("h"), F.lit(1).alias("delta")
    ).unionByName(
        sess.select((F.col("h1") + 1).alias("h"), F.lit(-1).alias("delta"))
    )
    hourly = deltas.groupBy("h").agg(F.sum("delta").alias("d"))
    w_run = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    return hourly.select(
        "h", F.sum("d").over(w_run).cast("bigint").alias("n_concurrent")
    ).filter(F.col("n_concurrent") > 0)


register(concurrent_sessions_timeline, f"""
WITH e AS (
  SELECT user_id, ts, event_id, {_SECS_SQL.format(c="ts")} AS s
  FROM events
), f AS (
  SELECT *,
         CASE WHEN LAG(s) OVER w IS NULL THEN 1
              WHEN s - LAG(s) OVER w > {{gap}} THEN 1
              ELSE 0 END AS new_sess
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), g AS (
  SELECT *,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS sess_id
  FROM f
), sess AS (
  SELECT user_id, sess_id,
         CAST(floor(MIN(s) / 3600) AS BIGINT) AS h0,
         CAST(floor(MAX(s) / 3600) AS BIGINT) AS h1
  FROM g GROUP BY 1, 2
), deltas AS (
  SELECT h0 AS h, 1 AS delta FROM sess
  UNION ALL
  SELECT h1 + 1, -1 FROM sess
), hourly AS (
  SELECT h, SUM(delta) AS d FROM deltas GROUP BY 1
)
SELECT h, CAST(SUM(d) OVER (ORDER BY h
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS n_concurrent
FROM hourly
QUALIFY n_concurrent > 0
""".replace("{gap}", str(SESSION_GAP_S)))


# ---------------------------------------------------------------------------
# Shipping delay panel: per order priority, the exact quartiles of the
# line-level shipping delay in whole days (l_shipdate − o_orderdate) —
# the SLA read-out; integer-day lags keep the interpolation
# engine-exact (the rfm/funnel-lag trick).
# Plan / 100 TB: ONE hash join lineitem⋈orders on the order key (both
# SF-linear — no broadcast), then a ≤priorities-group exact-percentile
# aggregate; the approx_percentile flip is a mechanism (approx=True).
# ---------------------------------------------------------------------------
def shipping_delay_panel(
    spark: SparkSession, sf_dir: str, approx: bool = False
) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.expr(_DAYS.format(c="l_shipdate")).alias("ds")
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr(_DAYS.format(c="o_orderdate")).alias("do_"),
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority", (F.col("ds") - F.col("do_")).alias("delay_d")
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.min("delay_d").alias("min_d"),
        _pctl("delay_d", 0.25, approx).alias("p25_d"),
        _pctl("delay_d", 0.5, approx).alias("p50_d"),
        _pctl("delay_d", 0.75, approx).alias("p75_d"),
        F.max("delay_d").alias("max_d"),
    )


register(shipping_delay_panel, f"""
WITH j AS (
  SELECT o.o_orderpriority,
         {_DAYS_SQL.format(c="l.l_shipdate")}
           - {_DAYS_SQL.format(c="o.o_orderdate")} AS delay_d
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
       MIN(delay_d) AS min_d,
       quantile_cont(delay_d, 0.25) AS p25_d,
       quantile_cont(delay_d, 0.5) AS p50_d,
       quantile_cont(delay_d, 0.75) AS p75_d,
       MAX(delay_d) AS max_d
FROM j GROUP BY 1
""")


# ---------------------------------------------------------------------------
# CDC merge (the MERGE INTO primitive): apply a change batch onto a
# dimension snapshot — the batch twin of what the SCD2 build versions.
# Base = each user's latest pre-split signup value; changes = post-
# split latest signups (upserts) and a DELETE marker for users whose
# post-split stream ends in an error event (delete wins over upsert —
# stated precedence). The panel reports the merge accounting
# (insert/update/unchanged/delete) plus the DECIMAL-exact checksum of
# the merged dimension — what a warehouse MERGE audit logs.
# Plan / 100 TB: two user-keyed latest-write-wins windows over the
# signup-filtered scan, ONE full outer hash join on user, one
# conditional aggregate. No global ordering.
# ---------------------------------------------------------------------------
def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value",
        F.expr(_DAYS.format(c="ts")).alias("d"),
        "ts",
    )
    w_last = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    base = (
        ev.filter(
            (F.col("event_type") == "signup")
            & (F.col("d") < CUPED_SPLIT_DAY)
        )
        .withColumn("_rn", F.row_number().over(w_last))
        .filter(F.col("_rn") == 1)
        .select("user_id", F.col("value").alias("base_v"))
    )
    post = ev.filter(F.col("d") >= CUPED_SPLIT_DAY)
    upserts = (
        post.filter(F.col("event_type") == "signup")
        .withColumn("_rn", F.row_number().over(w_last))
        .filter(F.col("_rn") == 1)
        .select("user_id", F.col("value").alias("new_v"))
    )
    last_any = (
        post.withColumn("_rn", F.row_number().over(w_last))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            (F.col("event_type") == "error").alias("is_delete"),
        )
    )
    changes = upserts.join(last_any, "user_id", "full").select(
        "user_id",
        "new_v",
        F.coalesce("is_delete", F.lit(False)).alias("is_delete"),
    )
    m = base.join(changes, "user_id", "full")
    merged_v = F.when(F.col("is_delete"), F.lit(None)).otherwise(
        F.coalesce("new_v", "base_v")
    )
    op = (
        F.when(F.col("is_delete") & F.col("base_v").isNotNull(), "delete")
        .when(F.col("is_delete"), "noop")
        .when(
            F.col("base_v").isNotNull() & F.col("new_v").isNotNull(),
            "update",
        )
        .when(F.col("new_v").isNotNull(), "insert")
        .otherwise("unchanged")
    )
    return m.select(op.alias("op"), merged_v.alias("v")).agg(
        F.sum(F.when(F.col("op") == "insert", 1).otherwise(0))
        .cast("bigint")
        .alias("n_inserts"),
        F.sum(F.when(F.col("op") == "update", 1).otherwise(0))
        .cast("bigint")
        .alias("n_updates"),
        F.sum(F.when(F.col("op") == "unchanged", 1).otherwise(0))
        .cast("bigint")
        .alias("n_unchanged"),
        F.sum(F.when(F.col("op") == "delete", 1).otherwise(0))
        .cast("bigint")
        .alias("n_deletes"),
        F.sum(F.when(F.col("op") == "noop", 1).otherwise(0))
        .cast("bigint")
        .alias("n_noops"),
        F.count("v").alias("n_final"),
        F.sum(F.col("v").cast(DEC)).cast("double").alias("checksum_v"),
    )


register(cdc_merge_upsert, f"""
WITH e AS (
  SELECT event_id, user_id, event_type, value,
         {_DAYS_SQL.format(c="ts")} AS d, CAST(ts AS TIMESTAMP) AS ts
  FROM events
), base AS (
  SELECT user_id, value AS base_v FROM (
    SELECT user_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM e WHERE event_type = 'signup' AND d < {CUPED_SPLIT_DAY}
  ) WHERE rn = 1
), upserts AS (
  SELECT user_id, value AS new_v FROM (
    SELECT user_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM e WHERE event_type = 'signup' AND d >= {CUPED_SPLIT_DAY}
  ) WHERE rn = 1
), last_any AS (
  SELECT user_id, event_type = 'error' AS is_delete FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM e WHERE d >= {CUPED_SPLIT_DAY}
  ) WHERE rn = 1
), changes AS (
  SELECT COALESCE(u.user_id, l.user_id) AS user_id, u.new_v,
         COALESCE(l.is_delete, FALSE) AS is_delete
  FROM upserts u FULL JOIN last_any l ON l.user_id = u.user_id
), m AS (
  SELECT CASE
           WHEN c.is_delete AND b.base_v IS NOT NULL THEN 'delete'
           WHEN c.is_delete THEN 'noop'
           WHEN b.base_v IS NOT NULL AND c.new_v IS NOT NULL
             THEN 'update'
           WHEN c.new_v IS NOT NULL THEN 'insert'
           ELSE 'unchanged' END AS op,
         CASE WHEN c.is_delete THEN NULL
              ELSE COALESCE(c.new_v, b.base_v) END AS v
  FROM base b FULL JOIN changes c ON c.user_id = b.user_id
)
SELECT
  CAST(SUM(CASE WHEN op = 'insert' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_inserts,
  CAST(SUM(CASE WHEN op = 'update' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_updates,
  CAST(SUM(CASE WHEN op = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_unchanged,
  CAST(SUM(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_deletes,
  CAST(SUM(CASE WHEN op = 'noop' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_noops,
  CAST(COUNT(v) AS BIGINT) AS n_final,
  CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS checksum_v
FROM m
""")


# ---------------------------------------------------------------------------
# Hourly peak detection: per event type, the z-scored peak hour of the
# dense hourly count series (and how many hours exceed 3σ) — the
# ops-monitoring "when did it spike" read-out on top of the same dense
# grid the autocorrelation panel uses.
# Plan / 100 TB: identical corpus shape to the autocorrelation panel
# (one keyed collapse + TIME-bounded grid); mean/σ are per-type
# integer moments; the peak pick is a TYPE-keyed row_number window
# with a deterministic (count desc, hour) tie-break. Always exactly
# one row per type — the panel cannot go vacuous at small SF.
# ---------------------------------------------------------------------------
def events_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "timestampdiff(HOUR, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("h"),
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("c")
    )
    span = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    dense = (
        span.select(
            "event_type", F.explode(F.sequence("h0", "h1")).alias("h")
        )
        .join(hourly, ["event_type", "h"], "left")
        .select("event_type", "h", F.coalesce("c", F.lit(0)).alias("c"))
    )
    mom = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
    )
    mean = F.col("sc") / F.col("n_hours")
    std = F.sqrt(F.col("scc") / F.col("n_hours") - mean * mean)
    stats = mom.select(
        "event_type", "n_hours", mean.alias("mean_c"), std.alias("std_c")
    )
    j = dense.join(F.broadcast(stats), "event_type")
    flagged = j.select(
        "event_type", "h", "c", "n_hours", "mean_c", "std_c",
        ((F.col("c") - F.col("mean_c")) / F.col("std_c")).alias("z"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("c").desc(), "h"
    )
    peaks = flagged.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    above = flagged.groupBy("event_type").agg(
        F.sum(
            (F.col("z") > 3.0).cast("int")
        ).cast("bigint").alias("n_above_3sigma")
    )
    return peaks.join(above, "event_type").select(
        "event_type",
        "n_hours",
        "mean_c",
        "std_c",
        F.col("h").alias("peak_h"),
        F.col("c").alias("peak_c"),
        F.col("z").alias("peak_z"),
        "n_above_3sigma",
    )


register(events_peak_detection, """
WITH e AS (
  SELECT event_type,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT) AS h
  FROM events
), hourly AS (
  SELECT event_type, h, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY 1, 2
), span AS (
  SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1
), grid AS (
  SELECT event_type, UNNEST(range(h0, h1 + 1)) AS h FROM span
), dense AS (
  SELECT g.event_type, g.h, COALESCE(hourly.c, 0) AS c
  FROM grid g LEFT JOIN hourly
    ON g.event_type = hourly.event_type AND g.h = hourly.h
), mom AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(c) AS BIGINT) AS sc,
         CAST(SUM(c * c) AS BIGINT) AS scc
  FROM dense GROUP BY 1
), stats AS (
  SELECT event_type, n_hours,
         sc * 1.0 / n_hours AS mean_c,
         sqrt(scc * 1.0 / n_hours
              - (sc * 1.0 / n_hours) * (sc * 1.0 / n_hours)) AS std_c
  FROM mom
), flagged AS (
  SELECT d.event_type, d.h, d.c, s.n_hours, s.mean_c, s.std_c,
         (d.c - s.mean_c) / s.std_c AS z
  FROM dense d JOIN stats s ON s.event_type = d.event_type
), peaks AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY c DESC, h) AS rn
  FROM flagged
), above AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN z > 3.0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_above_3sigma
  FROM flagged GROUP BY 1
)
SELECT p.event_type, p.n_hours, p.mean_c, p.std_c,
       p.h AS peak_h, p.c AS peak_c, p.z AS peak_z, a.n_above_3sigma
FROM peaks p JOIN above a ON a.event_type = p.event_type
WHERE p.rn = 1
""")


# ---------------------------------------------------------------------------
# Supplier concentration HHI: per part category, the Herfindahl-
# Hirschman index of supplier quantity shares — the antitrust-grade
# concentration metric next to the revenue 80/20 panel. Computed as
# Σqᵢ²/(Σqᵢ)² over DECIMAL-exact supplier totals, so the only float
# is one final division — engine-identical, no share-sum ordering.
# Plan / 100 TB: lineitem⋈part hash join, (category, supplier)-keyed
# DECIMAL sum (map-side combined), then a ≤types-group collapse.
# ---------------------------------------------------------------------------
def supplier_hhi_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    pt = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    per_supp = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy("p_type", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("q"))
    )
    return per_supp.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("q").cast("double").alias("total_qty"),
        (
            F.sum(F.col("q") * F.col("q")).cast("double")
            / (F.sum("q") * F.sum("q")).cast("double")
        ).alias("hhi"),
    )


register(supplier_hhi_panel, """
WITH per_supp AS (
  SELECT p.p_type, l.l_suppkey,
         SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS q
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
)
SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(q) AS DOUBLE) AS total_qty,
       CAST(SUM(q * q) AS DOUBLE) / CAST(SUM(q) * SUM(q) AS DOUBLE) AS hhi
FROM per_supp GROUP BY 1
""")


# ---------------------------------------------------------------------------
# Streaming ingest dedup twin (round 11) — exactly-once event view over
# an at-least-once delivery feed, the stage every streaming ingest runs
# before any stateful analytics (the four KeyedProcessFunction twins
# above all assume it). The STREAMING leg is Structured Streaming's
# dropDuplicatesWithinWatermark on event_id (state TTL'd by the
# watermark — state size is bounded by arrival-rate x delay, not by
# stream length; the analog of Flink's state-TTL dedup on a KeyedStream,
# reference contract exercised by the kafka-shaped source's
# exactly-once replay tests, sources/kafka_shaped.py). This batch twin
# is the registered query: the driver checks its accounting against
# DuckDB, and tests/test_round11b_ops.py replays the SAME injected feed
# through the streaming leg and pins row-for-row agreement with the
# twin (the Markov/cohort/funnel/CDC discipline).
#
# Duplicate deliveries are injected deterministically (the fixture
# discipline of _MESSY_TEXT_SQL / _PII_LEAKY_SQL): every
# DUP_MOD-th event is delivered twice, byte-identical — event-time ts
# does not change on redelivery, only arrival time does, so the
# exactly-once view is independent of WHICH copy survives and the twin
# is deterministic without an arrival-order contract.
#
# Plan / 100 TB: one union of the scan with its filtered self (no
# shuffle), then ONE event_type-keyed aggregate with map-side combine;
# the dedup itself is count-distinct bookkeeping, never a corpus-wide
# sort. The streaming leg's state is per-event_id keyed state with
# watermark eviction.
# ---------------------------------------------------------------------------
STREAM_DEDUP_MOD = 7  # every 7th event_id gets a second delivery
STREAM_DEDUP_DELAY = "60 seconds"  # the streaming leg's watermark TTL


def _dedup_arrivals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The injected at-least-once feed: events plus the byte-identical
    re-delivery of every STREAM_DEDUP_MOD-th event."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # copy_no tags the injected second delivery: the copies are
    # byte-identical on every real column, so "the dropped copy's
    # value" is well-defined no matter which copy the dedup keeps
    return ev.withColumn("copy_no", F.lit(0)).unionAll(
        ev.filter(F.col("event_id") % STREAM_DEDUP_MOD == 0).withColumn(
            "copy_no", F.lit(1)
        )
    )


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    arr = _dedup_arrivals(spark, sf_dir)
    return arr.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_arrivals"),
        F.countDistinct("event_id").cast("bigint").alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct("event_id"))
        .cast("bigint")
        .alias("n_dup_dropped"),
        (
            (F.count(F.lit(1)) - F.countDistinct("event_id"))
            / F.count(F.lit(1))
        ).alias("dup_rate"),
        F.sum(
            F.when(F.col("copy_no") == 1, F.col("value"))
            .otherwise(F.lit(0.0))
            .cast(DEC)
        )
        .cast("double")
        .alias("dup_value_at_risk"),
    )


register(stream_dedup_events, f"""
WITH arrivals AS (
  SELECT event_id, ts, user_id, event_type, value, 0 AS copy_no FROM events
  UNION ALL
  SELECT event_id, ts, user_id, event_type, value, 1 AS copy_no FROM events
  WHERE event_id % {STREAM_DEDUP_MOD} = 0
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_arrivals,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique,
       CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) AS n_dup_dropped,
       (COUNT(*) - COUNT(DISTINCT event_id)) * 1.0 / COUNT(*) AS dup_rate,
       CAST(SUM(CASE WHEN copy_no = 1
                THEN CAST(value AS DECIMAL(18,4))
                ELSE CAST(0.0 AS DECIMAL(18,4)) END)
            AS DOUBLE) AS dup_value_at_risk
FROM arrivals
GROUP BY event_type
""")
