"""Declared queries for the DataSetUtils surface
(``operators/utils.py`` ← ``flink-java/.../DataSetUtils.java``).

Random sampling and arbitrary id assignment cannot be value-compared
across engines, so these queries check the CONTRACT the reference
documents, reduced to deterministic scalars: zipWithIndex yields exactly
the dense range 0..n-1 (count, min, max, distinct all pinned),
zipWithUniqueId yields n distinct ids, and sampleWithSize returns
exactly min(k, n) rows. The element-level properties (rows preserved,
sample ⊆ input) are pinned in tests/test_operators.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.utils import sample_with_size, zip_with_index, zip_with_unique_id
from ..tables import load
from ._util import register


def zip_with_index_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = zip_with_index(load(spark, sf_dir, "documents"))
    return docs.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("index").cast("long").alias("min_idx"),
        F.max("index").cast("long").alias("max_idx"),
        F.count_distinct("index").alias("distinct_idx"),
    )


register(
    zip_with_index_contract,
    """
SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(0 AS BIGINT) AS min_idx,
       CAST(COUNT(*) - 1 AS BIGINT) AS max_idx,
       CAST(COUNT(*) AS BIGINT) AS distinct_idx
FROM documents
""",
)


def zip_with_unique_id_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = zip_with_unique_id(load(spark, sf_dir, "documents"))
    return docs.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct("unique_id").alias("distinct_ids"),
    )


register(
    zip_with_unique_id_contract,
    """
SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(COUNT(*) AS BIGINT) AS distinct_ids
FROM documents
""",
)


_SAMPLE_K = 100


def sample_with_size_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = sample_with_size(load(spark, sf_dir, "documents"), _SAMPLE_K)
    return s.agg(F.count(F.lit(1)).alias("cnt"))


register(
    sample_with_size_contract,
    f"""
SELECT CAST(LEAST({_SAMPLE_K}, COUNT(*)) AS BIGINT) AS cnt FROM documents
""",
)
