"""CEP mini-surface: "A followedBy B within T per key" (batch form).

The reference ships the full Flink CEP library
(``FT/flink-libraries/flink-cep/src/main/java/org/apache/flink/cep/CEP.java``,
``.../pattern/Pattern.java``): sequence patterns with time constraints
over keyed streams — ``Pattern.begin("a").followedBy("b").within(T)``.
Spark has no MATCH_RECOGNIZE, but the core followedBy-within shape is
expressible with one analytic window pass, which is also the plan you
want at 100 TB: one shuffle on the key, one sort per partition, no
self-join and no per-key collect.

Semantics implemented (and mirrored by the streaming twin in
``streaming/cep.py``):

- relaxed contiguity (``followedBy``, not ``next``): other events may
  sit between A and B;
- each A matches the FIRST B that follows it in stream order — Flink's
  ``AfterMatchSkipStrategy`` head-match behavior for this 2-step
  pattern — provided that B arrives within ``T`` of A's event time;
- "follows" is stream order (ts, event_id), not strict timestamp
  inequality, matching CEP's order-based buffer.

One A → at most one output row, so output cardinality is bounded by the
number of A events. The window frame (min over following rows) is
computed identically by Spark and DuckDB, so the query is fully
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..tables import load
from ._util import ORACLE, register


#: Pattern parameters: clicks followed by a purchase within 30 minutes.
A_TYPE, B_TYPE, WITHIN = "click", "purchase", "30 minutes"


def cep_followed_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    # Only the two pattern symbols participate; the filter pushes to the
    # scan, so the window pass sorts A∪B rows only, not the full stream.
    ab = ev.filter(F.col("event_type").isin(A_TYPE, B_TYPE))
    following = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    first_b_ts = F.min(
        F.when(F.col("event_type") == B_TYPE, F.col("ts"))
    ).over(following)
    return (
        ab.withColumn("b_ts", first_b_ts)
        .filter(
            (F.col("event_type") == A_TYPE)
            & F.col("b_ts").isNotNull()
            & (F.col("b_ts") <= F.col("ts") + F.expr(f"INTERVAL {WITHIN}"))
        )
        .select(
            F.col("event_id").alias("a_event_id"),
            "user_id",
            F.col("ts").alias("a_ts"),
            "b_ts",
        )
    )


# The CAST(ts AS TIMESTAMP) truncates DuckDB's nanosecond parquet
# timestamps to microseconds — the same truncation tables.load applies on
# the Spark side — so the within-T boundary comparison agrees between
# engines (a ns-precision comparison could flip a pair sitting within
# 1 µs of the boundary).
register(cep_followed_by, f"""
WITH ab AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
  FROM events
  WHERE event_type IN ('{A_TYPE}', '{B_TYPE}')
),
scanned AS (
  SELECT event_id, user_id, ts, event_type,
         MIN(CASE WHEN event_type = '{B_TYPE}' THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
         ) AS b_ts
  FROM ab
)
SELECT event_id AS a_event_id, user_id, ts AS a_ts, b_ts
FROM scanned
WHERE event_type = '{A_TYPE}' AND b_ts IS NOT NULL
  AND b_ts <= ts + INTERVAL {WITHIN}
""")


# ---------------------------------------------------------------------------
# times(n).within(T): the count quantifier (Pattern.java times()). A
# match completes at every A event that is the n-th-or-later A within
# the trailing T for its key — one analytic RANGE frame with an
# INTERVAL bound on the event-time ordering. Value-defined frame bounds
# mean same-timestamp peers land in the frame identically in both
# engines, and an interval frame sidesteps timezone semantics entirely
# (the testdata's µs timestamps surface as TIMESTAMP_NTZ, which the
# epoch conversion functions reject).
# ---------------------------------------------------------------------------
TIMES_N, TIMES_WITHIN = 3, "1 DAY"  # 3 clicks in a day
#: (chosen so the match fires at every SF — sf0.001: 19 rows, sf0.01:
#: 154 — a vacuously-green 0-row check would not verify the frame
#: logic at all; see the round-2 q19 verdict finding)


def cep_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    a = ev.filter(F.col("event_type") == A_TYPE)
    n_in_window = F.expr(
        f"""count(1) OVER (
              PARTITION BY user_id ORDER BY ts
              RANGE BETWEEN INTERVAL {TIMES_WITHIN} PRECEDING AND CURRENT ROW
            )"""
    )
    return (
        a.withColumn("n_in_window", n_in_window)
        .filter(F.col("n_in_window") >= TIMES_N)
        .select(
            F.col("event_id").alias("a_event_id"),
            "user_id",
            F.col("ts").alias("a_ts"),
            "n_in_window",
        )
    )


register(cep_times, f"""
WITH a AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = '{A_TYPE}'
),
counted AS (
  SELECT event_id, user_id, ts,
         COUNT(*) OVER (
           PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN INTERVAL {TIMES_WITHIN} PRECEDING AND CURRENT ROW
         ) AS n_in_window
  FROM a
)
SELECT event_id AS a_event_id, user_id, ts AS a_ts, n_in_window
FROM counted WHERE n_in_window >= {TIMES_N}
""")


# ---------------------------------------------------------------------------
# notFollowedBy(...).within(T): the absence pattern (Pattern.java
# notFollowedBy — legal only under a within() bound, which is exactly
# what makes it decidable). Same one-pass first-B scan as
# cep_followed_by, negated: emit the A events whose first following B
# is absent or out of the time bound.
# ---------------------------------------------------------------------------
NOT_A_TYPE, NOT_B_TYPE, NOT_WITHIN = "error", "purchase", "30 minutes"


def cep_not_followed_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    ab = ev.filter(F.col("event_type").isin(NOT_A_TYPE, NOT_B_TYPE))
    following = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    first_b_ts = F.min(
        F.when(F.col("event_type") == NOT_B_TYPE, F.col("ts"))
    ).over(following)
    return (
        ab.withColumn("b_ts", first_b_ts)
        .filter(
            (F.col("event_type") == NOT_A_TYPE)
            & (
                F.col("b_ts").isNull()
                | (F.col("b_ts") > F.col("ts") + F.expr(f"INTERVAL {NOT_WITHIN}"))
            )
        )
        .select(
            F.col("event_id").alias("a_event_id"),
            "user_id",
            F.col("ts").alias("a_ts"),
        )
    )


register(cep_not_followed_by, f"""
WITH ab AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
  FROM events
  WHERE event_type IN ('{NOT_A_TYPE}', '{NOT_B_TYPE}')
),
scanned AS (
  SELECT event_id, user_id, ts, event_type,
         MIN(CASE WHEN event_type = '{NOT_B_TYPE}' THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
         ) AS b_ts
  FROM ab
)
SELECT event_id AS a_event_id, user_id, ts AS a_ts
FROM scanned
WHERE event_type = '{NOT_A_TYPE}'
  AND (b_ts IS NULL OR b_ts > ts + INTERVAL {NOT_WITHIN})
""")


# ---------------------------------------------------------------------------
# next(): strict contiguity (Pattern.java next — "A immediately
# followed by B", ANY intervening event for the key breaks the match).
# The window therefore scans the FULL per-key stream, not just the
# pattern symbols: LEAD over (ts, event_id) order.
# ---------------------------------------------------------------------------
NEXT_A_TYPE, NEXT_B_TYPE = "view", "purchase"


def cep_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("next_type", F.lead("event_type").over(order))
        .withColumn("next_id", F.lead("event_id").over(order))
        .withColumn("next_ts", F.lead("ts").over(order))
        .filter(
            (F.col("event_type") == NEXT_A_TYPE)
            & (F.col("next_type") == NEXT_B_TYPE)
        )
        .select(
            F.col("event_id").alias("a_event_id"),
            F.col("next_id").alias("b_event_id"),
            "user_id",
            F.col("ts").alias("a_ts"),
            F.col("next_ts").alias("b_ts"),
        )
    )


register(cep_next, f"""
WITH scanned AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         LEAD(event_type) OVER w AS next_type,
         LEAD(event_id) OVER w AS next_id,
         LEAD(CAST(ts AS TIMESTAMP)) OVER w AS next_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
)
SELECT event_id AS a_event_id, next_id AS b_event_id, user_id,
       ts AS a_ts, next_ts AS b_ts
FROM scanned
WHERE event_type = '{NEXT_A_TYPE}' AND next_type = '{NEXT_B_TYPE}'
""")


# ---------------------------------------------------------------------------
# oneOrMore(): the looping quantifier (Pattern.java:352, Quantifier.java
# looping state). Batch form of
# ``begin(A).oneOrMore().consecutive().greedy().next(B)``: every B
# event preceded immediately by a maximal run of one-or-more consecutive
# A events for its key. Greedy + consecutive + head-skip collapse the
# reference's per-prefix match set to the maximal run — the analytic
# form is gaps-and-islands: number the per-key stream, group consecutive
# same-type islands, and join each A-island's end position to the event
# right after it.
# ---------------------------------------------------------------------------
ONE_A_TYPE, ONE_B_TYPE = "click", "purchase"


def cep_one_or_more(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev2 = _numbered_islands(spark, sf_dir)
    runs = (
        ev2.filter(F.col("event_type") == ONE_A_TYPE)
        .groupBy("user_id", "island")
        .agg(
            F.count(F.lit(1)).alias("run_len"),
            F.min("ts").alias("a_first_ts"),
            F.max("rn").alias("end_rn"),
        )
    )
    b = ev2.filter(F.col("event_type") == ONE_B_TYPE).select(
        "user_id",
        F.col("event_id").alias("b_event_id"),
        F.col("ts").alias("b_ts"),
        "rn",
    )
    return (
        b.join(
            runs,
            (b.user_id == runs.user_id) & (b.rn == runs.end_rn + 1),
        )
        .select(
            "b_event_id",
            b.user_id.alias("user_id"),
            "a_first_ts",
            "b_ts",
            "run_len",
        )
    )


register(cep_one_or_more, f"""
WITH flagged AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         ROW_NUMBER() OVER w AS rn,
         CASE WHEN LAG(event_type) OVER w IS NULL
                OR LAG(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
),
numbered AS (
  SELECT event_id, user_id, ts, event_type, rn,
         SUM(is_new) OVER (
           PARTITION BY user_id ORDER BY rn
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS island
  FROM flagged
),
runs AS (
  SELECT user_id, island, COUNT(*) AS run_len, MIN(ts) AS a_first_ts,
         MAX(rn) AS end_rn
  FROM numbered WHERE event_type = '{ONE_A_TYPE}'
  GROUP BY user_id, island
)
SELECT n.event_id AS b_event_id, n.user_id, r.a_first_ts,
       n.ts AS b_ts, r.run_len
FROM numbered n
JOIN runs r ON n.user_id = r.user_id AND n.rn = r.end_rn + 1
WHERE n.event_type = '{ONE_B_TYPE}'
""")


# ---------------------------------------------------------------------------
# optional(): the 0-or-1 quantifier (Pattern.java:333). Batch form of
# ``begin(V).next(C).optional().next(B)`` — strict contiguity with an
# optional middle element: a B immediately preceded by (view, click) or
# by just a view. One LAG pass over the full per-key stream; the
# optional branch surfaces as a nullable click_event_id.
# ---------------------------------------------------------------------------
OPT_V_TYPE, OPT_C_TYPE, OPT_B_TYPE = "view", "click", "purchase"


def cep_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    p1t, p1i = F.lag("event_type").over(order), F.lag("event_id").over(order)
    p2t = F.lag("event_type", 2).over(order)
    p2i = F.lag("event_id", 2).over(order)
    with_click = (p1t == OPT_C_TYPE) & (p2t == OPT_V_TYPE)
    without = p1t == OPT_V_TYPE
    return (
        ev.withColumn(
            "view_event_id",
            F.when(with_click, p2i).when(without, p1i),
        )
        .withColumn("click_event_id", F.when(with_click, p1i))
        .filter(
            (F.col("event_type") == OPT_B_TYPE)
            & F.col("view_event_id").isNotNull()
        )
        .select(
            F.col("event_id").alias("b_event_id"),
            "user_id",
            "view_event_id",
            "click_event_id",
            F.col("ts").alias("b_ts"),
        )
    )


register(cep_optional, f"""
WITH scanned AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         LAG(event_type) OVER w AS p1t, LAG(event_id) OVER w AS p1i,
         LAG(event_type, 2) OVER w AS p2t, LAG(event_id, 2) OVER w AS p2i
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
)
SELECT event_id AS b_event_id, user_id,
       CASE WHEN p1t = '{OPT_C_TYPE}' AND p2t = '{OPT_V_TYPE}' THEN p2i
            WHEN p1t = '{OPT_V_TYPE}' THEN p1i END AS view_event_id,
       CASE WHEN p1t = '{OPT_C_TYPE}' AND p2t = '{OPT_V_TYPE}' THEN p1i
            END AS click_event_id,
       ts AS b_ts
FROM scanned
WHERE event_type = '{OPT_B_TYPE}'
  AND (p1t = '{OPT_V_TYPE}'
       OR (p1t = '{OPT_C_TYPE}' AND p2t = '{OPT_V_TYPE}'))
""")


# ---------------------------------------------------------------------------
# times(from, to): the bounded-range quantifier (Pattern.java:400,
# Quantifier.times(from, to)). Batch form of
# ``begin(A).times(FROM, TO).consecutive().greedy().next(B)``: a B whose
# immediately-preceding maximal consecutive A-run has length in
# [FROM, TO]. Same gaps-and-islands pass as cep_one_or_more with the
# range filter on the run length.
# ---------------------------------------------------------------------------
RANGE_FROM, RANGE_TO = 2, 4


def cep_times_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cep_one_or_more(spark, sf_dir).filter(
        F.col("run_len").between(RANGE_FROM, RANGE_TO)
    )


register(
    cep_times_range,
    ORACLE["cep_one_or_more"].rstrip()
    + f"\n  AND r.run_len BETWEEN {RANGE_FROM} AND {RANGE_TO}\n",
)


# ---------------------------------------------------------------------------
# AfterMatchSkipStrategy (flink-cep/.../nfa/aftermatch/
# AfterMatchSkipStrategy.java and its subclasses NoSkipStrategy,
# SkipPastLastStrategy, SkipToLastStrategy): which of the overlapping
# candidate matches survive after one is emitted. For the looping
# pattern ``A.oneOrMore().consecutive().greedy().next(B)`` over a
# maximal A-run a_1..a_n followed by B, the candidate matches are the
# n suffixes (a_i..a_n, B) — greedy always extends each start to the
# run end, so greedy ≡ reluctant under consecutive+next (a shorter
# loop would have to stop at an A, which strict next(B) rejects).
#
# - NO_SKIP          → all n candidates survive (every start position);
# - SKIP_PAST_LAST_EVENT → prune starts before the emitted match's last
#   event → only the maximal match (start = a_1) survives — exactly the
#   one row per run that ``cep_one_or_more`` emits (asserted in
#   tests/test_cep.py);
# - SKIP_TO_LAST("a") → prune starts before the emitted match's last A
#   → the maximal match plus the single-element suffix (start = a_n)
#   survive (one match when n == 1).
#
# The island numbering is one analytic pass; the per-run start position
# makes every strategy a plain filter — no per-strategy rescan.
# ---------------------------------------------------------------------------
SKIP_STRATEGIES = ("no_skip", "skip_past_last_event", "skip_to_last")


def _numbered_islands(
    spark: SparkSession, sf_dir: str, with_value: bool = False
) -> DataFrame:
    """Per-key stream with row numbers and consecutive same-type
    island ids (the gaps-and-islands frame shared by the looping
    quantifier family). ``with_value`` carries the ``value`` column
    for until() conditions; off by default so 4-column test fixtures
    (and column pruning) stay minimal."""
    cols = ["event_id", "user_id", "ts", "event_type"]
    if with_value:
        cols.append("value")
    ev = load(spark, sf_dir, "events").select(*cols)
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_type = F.lag("event_type").over(order)
    flagged = ev.withColumn("rn", F.row_number().over(order)).withColumn(
        "is_new",
        (prev_type.isNull() | (prev_type != F.col("event_type"))).cast("int"),
    )
    return flagged.withColumn(
        "island",
        F.sum("is_new").over(W.partitionBy("user_id").orderBy("rn")),
    )


def cep_after_match(
    spark: SparkSession, sf_dir: str, strategy: str = "no_skip"
) -> DataFrame:
    if strategy not in SKIP_STRATEGIES:
        raise ValueError(
            f"unknown AfterMatchSkipStrategy {strategy!r}; "
            f"expected one of {SKIP_STRATEGIES}"
        )
    ev2 = _numbered_islands(spark, sf_dir)
    a = ev2.filter(F.col("event_type") == ONE_A_TYPE)
    runs = a.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("rn").alias("start_rn"),
        F.max("rn").alias("end_rn"),
    )
    b = ev2.filter(F.col("event_type") == ONE_B_TYPE).select(
        "user_id",
        F.col("event_id").alias("b_event_id"),
        F.col("ts").alias("b_ts"),
        "rn",
    )
    completed = runs.join(
        b, (runs.user_id == b.user_id) & (b.rn == runs.end_rn + 1)
    ).select(
        runs.user_id.alias("user_id"),
        "island",
        "run_len",
        "start_rn",
        "b_event_id",
        "b_ts",
    )
    starts = a.select(
        "user_id",
        "island",
        F.col("rn").alias("a_rn"),
        F.col("ts").alias("a_start_ts"),
    )
    cand = starts.join(completed, ["user_id", "island"]).withColumn(
        "pos", F.col("a_rn") - F.col("start_rn") + 1
    )
    if strategy == "skip_past_last_event":
        cand = cand.filter(F.col("pos") == 1)
    elif strategy == "skip_to_last":
        cand = cand.filter(
            (F.col("pos") == 1) | (F.col("pos") == F.col("run_len"))
        )
    return cand.select(
        "b_event_id",
        "user_id",
        "a_start_ts",
        "b_ts",
        (F.col("run_len") - F.col("pos") + 1).alias("match_len"),
    )


def cep_after_match_no_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cep_after_match(spark, sf_dir, "no_skip")


def cep_after_match_skip_to_last(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return cep_after_match(spark, sf_dir, "skip_to_last")


def _after_match_oracle(strategy_filter: str) -> str:
    return f"""
WITH flagged AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         ROW_NUMBER() OVER w AS rn,
         CASE WHEN LAG(event_type) OVER w IS NULL
                OR LAG(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
),
numbered AS (
  SELECT event_id, user_id, ts, event_type, rn,
         SUM(is_new) OVER (
           PARTITION BY user_id ORDER BY rn
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS island
  FROM flagged
),
runs AS (
  SELECT user_id, island, COUNT(*) AS run_len,
         MIN(rn) AS start_rn, MAX(rn) AS end_rn
  FROM numbered WHERE event_type = '{ONE_A_TYPE}'
  GROUP BY user_id, island
),
completed AS (
  SELECT r.user_id, r.island, r.run_len, r.start_rn,
         n.event_id AS b_event_id, n.ts AS b_ts
  FROM runs r
  JOIN numbered n ON n.user_id = r.user_id AND n.rn = r.end_rn + 1
  WHERE n.event_type = '{ONE_B_TYPE}'
),
cand AS (
  SELECT c.b_event_id, s.user_id, s.ts AS a_start_ts, c.b_ts,
         s.rn - c.start_rn + 1 AS pos, c.run_len
  FROM numbered s
  JOIN completed c ON s.user_id = c.user_id AND s.island = c.island
  WHERE s.event_type = '{ONE_A_TYPE}'
)
SELECT b_event_id, user_id, a_start_ts, b_ts,
       run_len - pos + 1 AS match_len
FROM cand{strategy_filter}
"""


register(cep_after_match_no_skip, _after_match_oracle(""))
register(
    cep_after_match_skip_to_last,
    _after_match_oracle("\nWHERE pos = 1 OR pos = run_len"),
)


# ---------------------------------------------------------------------------
# until() (Pattern.java until — the loop-break condition, checked
# BEFORE each element is consumed by the loop). For
# ``A.oneOrMore().consecutive().until(value > X).next(B)``: if any A in
# the run triggers the condition, the loop stops without consuming it;
# that A then sits between the consumed prefix and B, so strict next(B)
# can never complete — the whole run produces no match. If the
# condition never triggers, the match is the maximal run as before.
# Net: the one-or-more output filtered to runs with no triggering A.
# UNTIL_X is the fixture's click-value p90 (~123) so roughly 10% of A
# events trigger — excluded and surviving runs both exist at every SF
# (vacuity-guard discipline).
# ---------------------------------------------------------------------------
UNTIL_X = 123.0


def cep_one_or_more_until(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev2 = _numbered_islands(spark, sf_dir, with_value=True)
    a = ev2.filter(F.col("event_type") == ONE_A_TYPE)
    runs = a.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("ts").alias("a_first_ts"),
        F.max("rn").alias("end_rn"),
        # Canonical convention: NULL and NaN values never trigger. The
        # stream twin CANNOT distinguish them (Arrow→pandas maps a NULL
        # double to NaN), so both map to "not triggered" everywhere:
        # here the NOT-isnan guard (Spark alone orders NaN above all
        # doubles, so an unguarded value > X would be TRUE for NaN) and
        # the coalesce for NULL (an all-NULL run would otherwise
        # aggregate to NULL and the triggered == 0 join drops the run).
        F.max(
            F.coalesce(
                (~F.isnan("value") & (F.col("value") > UNTIL_X)).cast("int"),
                F.lit(0),
            )
        ).alias("triggered"),
    )
    b = ev2.filter(F.col("event_type") == ONE_B_TYPE).select(
        "user_id",
        F.col("event_id").alias("b_event_id"),
        F.col("ts").alias("b_ts"),
        "rn",
    )
    return (
        b.join(
            runs,
            (b.user_id == runs.user_id)
            & (b.rn == runs.end_rn + 1)
            & (runs.triggered == 0),
        )
        .select(
            "b_event_id",
            b.user_id.alias("user_id"),
            "a_first_ts",
            "b_ts",
            "run_len",
        )
    )


register(cep_one_or_more_until, f"""
WITH flagged AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value,
         ROW_NUMBER() OVER w AS rn,
         CASE WHEN LAG(event_type) OVER w IS NULL
                OR LAG(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
),
numbered AS (
  SELECT event_id, user_id, ts, event_type, value, rn,
         SUM(is_new) OVER (
           PARTITION BY user_id ORDER BY rn
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS island
  FROM flagged
),
runs AS (
  SELECT user_id, island, COUNT(*) AS run_len, MIN(ts) AS a_first_ts,
         MAX(rn) AS end_rn,
         MAX(CASE WHEN NOT isnan(value) AND value > {UNTIL_X}
                  THEN 1 ELSE 0 END) AS triggered
  FROM numbered WHERE event_type = '{ONE_A_TYPE}'
  GROUP BY user_id, island
)
SELECT n.event_id AS b_event_id, n.user_id, r.a_first_ts,
       n.ts AS b_ts, r.run_len
FROM numbered n
JOIN runs r ON n.user_id = r.user_id AND n.rn = r.end_rn + 1
WHERE n.event_type = '{ONE_B_TYPE}' AND r.triggered = 0
""")


# ---------------------------------------------------------------------------
# followedByAny (Pattern.java followedByAny — NON-DETERMINISTIC relaxed
# contiguity): unlike followedBy's head-match collapse, EVERY B within
# the bound completes a match with each preceding A, so the output is
# the full (A, B) pair set. The scale-safe form is the bucketed-grid
# interval join proven by q22: bucket length = the within() bound, the
# A side explodes to its {g, g+1} forward cells, the join keys on
# (user, cell) — never a per-user cartesian. Output volume is the
# pattern's own semantics (each A can match many Bs), not a plan
# artifact.
# ---------------------------------------------------------------------------
ANY_WITHIN_SEC = 1800  # 30 minutes, matching the followedBy pattern


def cep_followed_by_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        (F.unix_timestamp("ts") / ANY_WITHIN_SEC).cast("bigint").alias("g"),
    )
    a = (
        ev.filter(F.col("event_type") == A_TYPE)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.explode(F.array(F.col("g"), F.col("g") + 1)).alias("g"),
        )
        .alias("a")
    )
    b = ev.filter(F.col("event_type") == B_TYPE).alias("b")
    follows = (F.col("b.ts") > F.col("a.ts")) | (
        (F.col("b.ts") == F.col("a.ts"))
        & (F.col("b.event_id") > F.col("a.event_id"))
    )
    return (
        a.join(b, ["user_id", "g"])
        .filter(
            follows
            & (
                F.col("b.ts")
                <= F.col("a.ts") + F.expr(f"INTERVAL {ANY_WITHIN_SEC} SECONDS")
            )
        )
        .select(
            F.col("a.event_id").alias("a_event_id"),
            F.col("b.event_id").alias("b_event_id"),
            "user_id",
            F.col("a.ts").alias("a_ts"),
            F.col("b.ts").alias("b_ts"),
        )
    )


register(cep_followed_by_any, f"""
WITH a AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = '{A_TYPE}'
),
b AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = '{B_TYPE}'
)
SELECT a.event_id AS a_event_id, b.event_id AS b_event_id, a.user_id,
       a.ts AS a_ts, b.ts AS b_ts
FROM a JOIN b
  ON a.user_id = b.user_id
 AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
 AND b.ts <= a.ts + INTERVAL {ANY_WITHIN_SEC} SECONDS
""")


# ---------------------------------------------------------------------------
# GroupPattern (flink-cep/.../pattern/GroupPattern.java): a nested
# pattern treated as a unit and quantified —
# ``begin(group(V.next(C))).followedBy(group).times(2).within(T)``
# analog: the group (view immediately followed by click) matches as a
# derived event, and the times() quantifier runs on the GROUP MATCH
# stream. Two composed passes, each already proven on the primitive
# patterns: a LEAD scan detects the group matches (cep_next's shape),
# then the interval-RANGE count quantifier (cep_times's shape) fires at
# every group match that is the 2nd-or-later within T for its key. The
# composition is the point: quantifying a group needs no new machinery,
# just the group-match stream fed to the same analytic quantifier —
# which is exactly how the reference's NFACompiler expands a quantified
# GroupPattern into the inner pattern's states repeated.
# ---------------------------------------------------------------------------
GRP_V, GRP_C = "view", "click"
GRP_TIMES_N, GRP_WITHIN = 2, "7 DAY"


def cep_group_followed_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(order))
        .withColumn("next_id", F.lead("event_id").over(order))
        .filter(
            (F.col("event_type") == GRP_V) & (F.col("next_type") == GRP_C)
        )
        .select(
            F.col("event_id").alias("v_event_id"),
            F.col("next_id").alias("c_event_id"),
            "user_id",
            "ts",
        )
    )
    n_in_window = F.expr(
        f"""count(1) OVER (
              PARTITION BY user_id ORDER BY ts
              RANGE BETWEEN INTERVAL {GRP_WITHIN} PRECEDING AND CURRENT ROW
            )"""
    )
    return (
        pairs.withColumn("n_groups", n_in_window)
        .filter(F.col("n_groups") >= GRP_TIMES_N)
        .select(
            "v_event_id",
            "c_event_id",
            "user_id",
            F.col("ts").alias("group_ts"),
            "n_groups",
        )
    )


register(cep_group_followed_by, f"""
WITH scanned AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         LEAD(event_type) OVER w AS next_type,
         LEAD(event_id) OVER w AS next_id
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
),
pairs AS (
  SELECT event_id AS v_event_id, next_id AS c_event_id, user_id, ts
  FROM scanned
  WHERE event_type = '{GRP_V}' AND next_type = '{GRP_C}'
),
counted AS (
  SELECT v_event_id, c_event_id, user_id, ts,
         COUNT(*) OVER (
           PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN INTERVAL {GRP_WITHIN} PRECEDING AND CURRENT ROW
         ) AS n_groups
  FROM pairs
)
SELECT v_event_id, c_event_id, user_id, ts AS group_ts, n_groups
FROM counted WHERE n_groups >= {GRP_TIMES_N}
""")


# ---------------------------------------------------------------------------
# notNext (Pattern.java:273 — strict absence): A whose IMMEDIATE
# successor in the per-key stream is not B (including A as the last
# event). The complement of cep_next over the same single LEAD scan.
# ---------------------------------------------------------------------------
def cep_not_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("next_type", F.lead("event_type").over(order))
        .filter(
            (F.col("event_type") == NEXT_A_TYPE)
            & (
                F.col("next_type").isNull()
                | (F.col("next_type") != NEXT_B_TYPE)
            )
        )
        .select(
            F.col("event_id").alias("a_event_id"),
            "user_id",
            F.col("ts").alias("a_ts"),
        )
    )


register(cep_not_next, f"""
WITH scanned AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         LEAD(event_type) OVER w AS next_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
)
SELECT event_id AS a_event_id, user_id, ts AS a_ts
FROM scanned
WHERE event_type = '{NEXT_A_TYPE}'
  AND (next_type IS NULL OR next_type <> '{NEXT_B_TYPE}')
""")


# ---------------------------------------------------------------------------
# allowCombinations() (Pattern.java allowCombinations, Quantifier.java
# COMBINATIONS property): non-deterministic relaxed contiguity INSIDE
# the looping quantifier. For ``A.oneOrMore().allowCombinations()
# .next(B)`` over a maximal consecutive A-run a_1..a_k followed
# immediately by B: under the default NO_SKIP strategy the NFA starts
# a match attempt at EVERY a_i (the AfterMatchSkip note at the top of
# this section: every start position survives), each attempt may then
# take or skip each later A, and strict next(B) anchors the END at
# a_k — B must be the very next stream element after the last consumed
# A, and from any earlier a_j the next element is an A. A match is
# therefore exactly a nonempty subset of the run CONTAINING a_k:
# 2^(k-1) rows per run (the subset's minimum is the start position).
#
# Batch analog: cep_one_or_more's (run, B) matches, then an explode
# over the 2^(k-1) subset bitmasks — bit i of combo_mask selects
# a_(i+1) (the first k-1 elements; a_k is always consumed),
# n_matched = bit_count + 1. The output is intrinsically
# EXPONENTIAL in the run length — no engine should materialize it
# unbounded at 100 TB — so runs longer than COMB_MAX_RUN produce no
# combination rows (documented cap, ≤ 2^9 rows per island; the
# fixture's longest run is 5, so nothing is excluded at any test SF
# and the cap never vacuizes the query). a_first_ts is RUN metadata
# (the island's first A), not the match's start — the mask's lowest
# set bit identifies the start element. Stream twin:
# streaming/cep.py:cep_allow_combinations_stream explodes
# cep_one_or_more_stream's matches with the same ``combination_masks``.
# ---------------------------------------------------------------------------
COMB_MAX_RUN = 10


def combination_masks(runs: DataFrame) -> DataFrame:
    """Explode each (run, B) match row of ``runs`` (a ``run_len``
    column) into its 2^(run_len-1) allowCombinations matches:
    ``combo_mask`` (long) and ``n_matched`` (int) appended."""
    masks = F.sequence(
        F.lit(0).cast("long"),
        F.expr("shiftleft(1L, run_len - 1) - 1L"),
    )
    return runs.select("*", F.explode(masks).alias("combo_mask")).withColumn(
        "n_matched", (F.bit_count("combo_mask") + F.lit(1)).cast("int")
    )


def cep_allow_combinations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return combination_masks(
        cep_one_or_more(spark, sf_dir).filter(F.col("run_len") <= COMB_MAX_RUN)
    )


register(cep_allow_combinations, f"""
WITH flagged AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         ROW_NUMBER() OVER w AS rn,
         CASE WHEN LAG(event_type) OVER w IS NULL
                OR LAG(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
),
numbered AS (
  SELECT event_id, user_id, ts, event_type, rn,
         SUM(is_new) OVER (
           PARTITION BY user_id ORDER BY rn
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS island
  FROM flagged
),
runs AS (
  SELECT user_id, island, COUNT(*) AS run_len, MIN(ts) AS a_first_ts,
         MAX(rn) AS end_rn
  FROM numbered WHERE event_type = '{ONE_A_TYPE}'
  GROUP BY user_id, island
  HAVING COUNT(*) <= {COMB_MAX_RUN}
),
joined AS (
  SELECT n.event_id AS b_event_id, n.user_id, r.run_len, r.a_first_ts,
         n.ts AS b_ts
  FROM numbered n
  JOIN runs r ON n.user_id = r.user_id AND n.rn = r.end_rn + 1
  WHERE n.event_type = '{ONE_B_TYPE}'
)
SELECT b_event_id, user_id, run_len, a_first_ts, b_ts,
       CAST(unnest(range(0, CAST(pow(2, run_len - 1) AS BIGINT)))
            AS BIGINT) AS combo_mask,
       CAST(bit_count(CAST(unnest(range(0,
            CAST(pow(2, run_len - 1) AS BIGINT))) AS BIGINT)) + 1
            AS INTEGER) AS n_matched
FROM joined
""")
