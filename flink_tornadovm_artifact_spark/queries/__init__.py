"""Declared query registry.

Each query module calls ``_util.register`` once per query as it is
imported, filling ``QUERIES`` (name → callable(spark, sf_dir) →
DataFrame) and ``ORACLE`` (name → DuckDB SQL) in the import order below;
``__spark_entry__.py`` consumes them. Every query has an oracle. Which 50
queries the driver checks is derived by ``tools/update_driver_ledger.py``,
not kept here.
"""

# Import order is registration order, which plan fingerprints depend on;
# pipeline imports llm at import time, so llm stays ahead of it.
from . import relational, tpch, iot, ml, windows, llm, pipeline  # noqa: F401  # isort: skip
from . import procedural, cep, gelly, utils_q, temporal_q, behavior  # noqa: F401  # isort: skip
from ._util import ORACLE, QUERIES  # noqa: F401
