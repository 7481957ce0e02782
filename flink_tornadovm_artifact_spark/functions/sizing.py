"""Shuffle-width scoping for iterative pipelines.

A superstep loop plans each checkpoint statically (AQE off, see
``iteration_models.checkpoint_counting``), so nothing coalesces its
shuffles after the fact: the width has to be right before the plan
runs. ``sized_shuffle`` derives it from the loop's input, the partition
count of its widest source, read off the physical plan without running
a job. A one-partition input gets width 1; a 100 TB input that arrives
in thousands of splits keeps its thousands.

There is no constant floor: a floor only adds empty tasks to every
stage of every superstep of a small loop, which AQE would coalesce away
but a statically planned checkpoint runs, every one of them.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame


@contextmanager
def scoped_conf(spark, key: str, value: str):
    """Set one SQL conf for the block and restore the previous value
    after, also when the block raises."""
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _source_widths(plan) -> list[int]:
    """Partition counts of the sources under a physical plan. A cached
    relation counts as the sources of its cached plan, so that nothing
    is materialized to size it; building a leaf's RDD runs no job."""
    leaves = plan.collectLeaves().iterator()
    out = []
    while leaves.hasNext():
        leaf = leaves.next()
        kind = leaf.getClass().getSimpleName()
        if kind == "InMemoryTableScanExec":
            out += _source_widths(leaf.relation().cachedPlan())
        elif kind == "AdaptiveSparkPlanExec":
            out += _source_widths(leaf.inputPlan())
        else:
            out.append(leaf.execute().getNumPartitions())
    return out


@contextmanager
def sized_shuffle(df: DataFrame):
    """Scope ``spark.sql.shuffle.partitions`` to the partition count of
    ``df``'s widest source (at least 1) for the duration of the block,
    restoring the previous value after (even on error). The width is
    read off the physical plan, so sizing runs no job, where
    ``df.rdd.getNumPartitions()`` would execute every adaptive shuffle
    stage under ``df`` to read its coalesced count."""
    width = max([1, *_source_widths(df._jdf.queryExecution().sparkPlan())])
    with scoped_conf(df.sparkSession, "spark.sql.shuffle.partitions", str(width)):
        yield


def spread_scan(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a narrow scan up to the session's default
    parallelism when the source supplies fewer splits (round 12, guide
    §2.5 input-skew remedy: "repartition immediately after the read").

    The test corpora are single-row-group parquet files, so every scan
    is ONE task and every expression-heavy first stage (shingling,
    per-token hashing, char explodes) runs on one core regardless of
    cluster width. The guard makes the helper scale-adaptive rather
    than a local[32] tune: a production 100 TB table arrives in
    thousands of splits >= defaultParallelism and the repartition is a
    no-op; an unsplittable-input pathology (one giant gzip) gets the
    same remedy the guide prescribes. The shuffle moves the scan
    columns once — only adopt it where the downstream per-row work
    dominates that copy (measured per query, see OPTIMIZATION_r12.md).
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
