"""Declared query registry.

Aggregates every query module's ``QUERIES`` (name → callable(spark, sf_dir)
→ DataFrame) and ``ORACLE`` (name → DuckDB SQL) into flat dicts consumed by
``__spark_entry__.py``, in module order. Which 50 queries the driver
checks is derived by ``tools/update_driver_ledger.py``, not kept here.
Queries without an oracle entry get the driver's weaker rows-only check
(non-SQL-expressible ops).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import behavior, cep, gelly, iot, llm, ml, pipeline, procedural, relational, temporal_q, tpch, utils_q, windows

_MODULES = (relational, tpch, iot, ml, windows, llm, pipeline, procedural, cep, gelly, utils_q, temporal_q, behavior)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

for _m in _MODULES:
    for _name, _fn in _m.QUERIES.items():
        if _name in QUERIES:
            raise ValueError(f"duplicate query name {_name!r}")
        QUERIES[_name] = _fn
    ORACLE.update(_m.ORACLE)

#: The registry serves each query's BUILT lazy DataFrame from
#: ``_util.session_memo``, except the queries named here: their build
#: executes corpus-scale work of its own (a driver loop, a training
#: run, an eager checkpoint or collect of corpus state), so a memoized
#: plan would hand later calls materialized state instead of a plan.
PLAN_MEMO_EXCLUDE = frozenset(
    {
        "sssp_pipeline",
        "connected_components_pipeline",
        "pagerank_pipeline",
        "label_propagation_communities",
        "community_detection_labels",
        "kcore_social",
        "hits_scores",
        "kmeans_pipeline",
        "logreg_pipeline",
        "decontaminate_verdict_panel",
        "wordpiece_fertility_panel",
        "tokenizer_roundtrip_qa",
        "multimodal_phash_neardup",
        "embedding_abtt_residuals",
        "embedding_principal_direction",
        "dedup_simhash",
        "dedup_semantic",
        "bipartite_projection_suppliers",
        "dft_events",
    }
)

_unknown_excl = PLAN_MEMO_EXCLUDE - set(QUERIES)
if _unknown_excl:
    raise ValueError(
        f"plan-memo exclusions not registered: {sorted(_unknown_excl)}"
    )

from ._util import session_memo  # noqa: E402

for _name, _fn in list(QUERIES.items()):
    if _name not in PLAN_MEMO_EXCLUDE and not hasattr(_fn, "__wrapped__"):
        QUERIES[_name] = session_memo(_fn)

_missing = set(ORACLE) - set(QUERIES)
if _missing:
    raise ValueError(f"oracle entries without queries: {sorted(_missing)}")
