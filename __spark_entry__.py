"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (Q18, the reference's IoT grouped
window aggregate — ``SparkWorks.java:158-192``) at sf0.001.
``queries()`` / ``oracle_sql()`` expose the full declared set from
SURVEY.md §2.J plus the LLM-data-pipeline operators, implemented in
``flink_tornadovm_artifact_spark.queries``.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from flink_tornadovm_artifact_spark.queries import ORACLE, QUERIES

_LEDGER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "DRIVER_CHECKED.json")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["q18_iot_window_agg"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    The verification driver oracle-checks the first 50 entries in order,
    so the driver window stored in DRIVER_CHECKED.json comes first: the
    queries whose plan changed since they last went green, or that never
    did, stalest first (derived by ``tools/update_driver_ledger.py``).
    The rest of the registry follows in module order and is
    oracle-checked by pytest at the same SF."""
    with open(_LEDGER) as f:
        window = json.load(f)["window"]
    return {**{n: QUERIES[n] for n in window}, **QUERIES}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; every query has one."""
    return dict(ORACLE)
