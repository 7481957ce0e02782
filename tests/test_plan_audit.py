"""Plan-shape guard over the WHOLE registry: no query outside the
documented allowlist may carry a cartesian/nested-loop join, and every
allowlist entry must still exist (self-cleaning). Runs on a sample of
the driver window for speed; tools/plan_audit.py sweeps the whole
registry and regenerates PLAN_AUDIT.md."""

from __future__ import annotations

import json
import re

from pyspark.sql import functions as F

from flink_tornadovm_artifact_spark.queries import QUERIES

from .conftest import SF_ORACLE

import sys, os  # noqa: E401

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
from tools.plan_audit import (  # noqa: E402
    GLOBAL_WINDOW_ALLOWLIST,
    NESTED_LOOP_ALLOWLIST,
    global_windows,
)


def test_allowlist_entries_exist():
    missing = sorted(set(NESTED_LOOP_ALLOWLIST) - set(QUERIES))
    assert not missing, f"allowlisted queries no longer registered: {missing}"
    missing_gw = sorted(set(GLOBAL_WINDOW_ALLOWLIST) - set(QUERIES))
    assert not missing_gw, f"allowlisted queries no longer registered: {missing_gw}"


def test_no_global_window_in_restructured_queries(spark):
    """Round-7 guard: the three round-6 scale-killers — an unpartitioned
    window over an unbounded-cardinality frame — must stay restructured
    (1-row-aggregate broadcast / TakeOrdered top-K / max+filter join).
    A reintroduced global rank/sum window plans Exchange SinglePartition
    under a Window node, which global_windows() counts."""
    for name in ("text_pmi_bigrams", "text_vocab_coverage", "q47_tpch_q15"):
        df = QUERIES[name](spark, SF_ORACLE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert global_windows(plan) == 0, f"{name} plans a global window again"


def test_global_window_detector_positive(spark):
    """The detector itself must fire on the shape it guards against —
    otherwise the test above passes vacuously."""
    from pyspark.sql import Window as W

    df = (
        spark.range(100)
        .groupBy((F.col("id") % 10).alias("k"))
        .count()
        .withColumn("rk", F.row_number().over(W.orderBy(F.desc("count"))))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert global_windows(plan) >= 1


def test_no_unexpected_nested_loop_in_window_queries(spark):
    """The first 25 entries of the driver window (DRIVER_CHECKED.json)
    outside the allowlist: none may plan a nested-loop join."""
    with open(os.path.join(os.path.dirname(__file__), "..", "DRIVER_CHECKED.json")) as f:
        window = json.load(f)["window"]
    sample = [n for n in window if n not in NESTED_LOOP_ALLOWLIST][:25]
    offenders = []
    for name in sample:
        df = QUERIES[name](spark, SF_ORACLE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", plan):
            offenders.append(name)
    assert not offenders, offenders
