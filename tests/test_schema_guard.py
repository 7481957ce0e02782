"""Driver-canonicalizability guard (VERDICT r4 task 2).

The verification driver canonicalizes every registered query's result with
a pandas ``sort_values`` over ALL columns before hashing. A top-level
``array``/``map``/``struct`` column makes that sort throw
(``TypeError: unhashable type: 'list'`` — the exact failure that made
``multimodal_feature_extract`` the one red row in CORRECTNESS_r04).

This generalizes the vacuity-guard lesson from predicates to schemas:
every registered query must build a result whose top-level columns are
driver-sortable scalars, unless explicitly allowlisted with a reason.

Schema construction is lazy (no job runs), so this sweeps all ~134
registered queries cheaply.
"""

from __future__ import annotations

import pytest

from flink_tornadovm_artifact_spark.queries import QUERIES

from .conftest import SF_ORACLE

#: name -> reason. Empty on purpose: every query that used to emit a
#: complex column (multimodal_feature_extract's features array<double>)
#: has been flattened at the query boundary. Every registered query is
#: hash-compared against its DuckDB oracle by the driver, so an entry
#: needs a reason the driver can still sort that query's rows.
ALLOWLIST: dict[str, str] = {}

_COMPLEX = {"array", "map", "struct"}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_schema_is_driver_sortable(name, spark):
    if name in ALLOWLIST:
        pytest.skip(f"allowlisted: {ALLOWLIST[name]}")
    schema = QUERIES[name](spark, SF_ORACLE).schema
    complex_cols = [
        (f.name, f.dataType.typeName())
        for f in schema.fields
        if f.dataType.typeName() in _COMPLEX
    ]
    assert not complex_cols, (
        f"{name} emits driver-unsortable top-level column(s) {complex_cols}; "
        "pandas sort_values over list/dict cells raises TypeError in the "
        "driver canonicalizer. Flatten at the query boundary (keep the "
        "library API) or allowlist with a reason."
    )
