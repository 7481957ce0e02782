"""Differential-oracle test: every declared query vs DuckDB at sf0.01.

This mirrors the driver's CORRECTNESS gate so failures surface locally
before a round ends.
"""

from __future__ import annotations

import pytest

from flink_tornadovm_artifact_spark.queries import ORACLE, QUERIES

from .conftest import SF_ORACLE, SF_SMOKE
from .oracle import compare, duckdb_con


#: Both scale factors run the SAME sweep body: sf0.01 mirrors the
#: driver's CORRECTNESS gate; sf0.001 pins that no query bakes in
#: "corpus is big enough" assumptions (empty groups, short signals —
#: the sweep that caught dft_events' hardcoded signal length, round 6).
@pytest.fixture(scope="module", params=[SF_ORACLE, SF_SMOKE])
def sf_and_con(request):
    c = duckdb_con(request.param)
    yield request.param, c
    c.close()


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle(name, spark, sf_and_con):
    sf_dir, con = sf_and_con
    df = QUERIES[name](spark, sf_dir)
    ok, msg = compare(df, con, ORACLE[name])
    assert ok, f"{name}@{sf_dir}: {msg}"


def test_register_rejects_before_touching_the_registry():
    """A duplicate name or an empty oracle raises before either dict
    changes, so a bad registration cannot leave a half-declared query."""
    from flink_tornadovm_artifact_spark.queries._util import register

    def q38_tpch_q6(spark, sf_dir):  # already registered
        raise AssertionError

    def fresh_query_without_oracle(spark, sf_dir):
        raise AssertionError

    before = (dict(QUERIES), dict(ORACLE))
    with pytest.raises(ValueError, match="duplicate"):
        register(q38_tpch_q6, "SELECT 1")
    for oracle in ("", None):
        with pytest.raises(ValueError, match="no oracle"):
            register(fresh_query_without_oracle, oracle)
    assert (dict(QUERIES), dict(ORACLE)) == before


def test_priority_window_is_first_50_with_oracles():
    """The driver oracle-checks only the first 50 entries of
    ``queries()``; pin that they are the ledger's derived window and
    fully oracle-backed (round-1 regression: module order silently
    dropped 30 queries)."""
    import json

    import __spark_entry__ as e

    with open(e._LEDGER) as f:
        window = json.load(f)["window"]
    names = list(e.queries())
    assert len(window) == 50
    assert names[:50] == window
    assert [n for n in names[:50] if n not in ORACLE] == []


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
