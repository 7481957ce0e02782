"""The registry-wide plan memo (round 13, guide §1.2 driver-side).

``queries/__init__.py`` wraps every registered query except the
``PLAN_MEMO_EXCLUDE`` set in ``_util.plan_memo``: the BUILT lazy
DataFrame is served per (session applicationId, sf_dir), skipping the
repeated Catalyst analysis chain (~59 s summed over the registry at
sf0.1). These tests pin the three properties that make the memo a
plan-sharing mechanism and not result caching:

- a memo hit is the SAME lazy DataFrame object; a different corpus dir
  is a different entry;
- the excluded queries (whose build EXECUTES their own corpus-scale
  computation) are genuinely unwrapped — every invocation rebuilds;
- a memoized plan's ACTIONS recompute from the parquet inputs: a
  repeat action on a memo hit launches Spark jobs again, and its
  executed plan scans the parquet files, with no in-memory or local
  table scan standing in for remembered rows.
"""

from __future__ import annotations

import shutil

from flink_tornadovm_artifact_spark.queries import PLAN_MEMO_EXCLUDE, QUERIES

from .conftest import SF_SMOKE

#: A cheap memoized representative (single scan + global aggregate).
_MEMOIZED = "q38_tpch_q6"
#: A cheap excluded representative (the k-core peel converges in a few
#: rounds at smoke scale).
_EXCLUDED = "kcore_social"


def test_memo_hit_is_same_object(spark):
    a = QUERIES[_MEMOIZED](spark, SF_SMOKE)
    b = QUERIES[_MEMOIZED](spark, SF_SMOKE)
    assert a is b


def test_memo_is_per_corpus(spark, tmp_path):
    alt = str(tmp_path / "sfalt")
    shutil.copytree(SF_SMOKE, alt)
    a = QUERIES[_MEMOIZED](spark, SF_SMOKE)
    b = QUERIES[_MEMOIZED](spark, alt)
    assert a is not b


def test_excluded_queries_rebuild_every_invocation(spark):
    a = QUERIES[_EXCLUDED](spark, SF_SMOKE)
    b = QUERIES[_EXCLUDED](spark, SF_SMOKE)
    assert a is not b


def test_exclusions_are_registered_and_unwrapped():
    assert PLAN_MEMO_EXCLUDE <= set(QUERIES)
    for name in PLAN_MEMO_EXCLUDE:
        assert not hasattr(QUERIES[name], "_plan_memo_cache"), name
    for name in set(QUERIES) - PLAN_MEMO_EXCLUDE:
        assert hasattr(QUERIES[name], "_plan_memo_cache"), name


def test_memoized_plan_recomputes_from_parquet(spark):
    """The anti-result-caching pin: a memo-served action still executes
    a parquet FileScan of the corpus (no LocalTableScan of remembered
    rows, no InMemoryRelation introduced by the memo), and a repeat
    invocation launches real Spark jobs again.

    (The plan does capture the file LISTING at build — the same
    session-level catalog-metadata caching Spark applies to file-source
    tables, guide §6 — but never row data: the fixtures are immutable
    per sf_dir.)
    """
    sc = spark.sparkContext
    tr = sc.statusTracker()
    df = QUERIES[_MEMOIZED](spark, SF_SMOKE)
    df.write.format("noop").mode("overwrite").save()
    # memo hit, then a tracked second execution
    df2 = QUERIES[_MEMOIZED](spark, SF_SMOKE)
    assert df2 is df
    sc.setJobGroup("memo_pin", "second action")
    df2.write.format("noop").mode("overwrite").save()
    sc.setJobGroup(None, None)
    jobs = tr.getJobIdsForGroup("memo_pin")
    assert jobs, "memo-served action ran no Spark job — result was cached"
    executed = df2._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in executed, executed[:500]
    assert "InMemoryTableScan" not in executed, executed[:500]
    assert "LocalTableScan" not in executed, executed[:500]
