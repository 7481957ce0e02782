"""Gelly's three vertex-centric iteration models as generic operators,
and the one superstep driver every graph loop in the package runs on:

- ``iterate``                     — the delta/bulk superstep driver
  (DataSet.iterate / iterateDelta, SURVEY.md §2.F), built on
  ``checkpoint_counting``
- ``gather_sum_apply_iteration``  — gsa/GatherSumApplyIteration.java
  (gather a partial per in-neighbor, sum per vertex, apply update)
- ``scatter_gather_iteration``    — spargel/ScatterGatherIteration.java
  (scatter messages along edges, gather to update vertex state)
- ``vertex_centric_iteration``    — pregel/VertexCentricIteration.java
  (user compute step consumes messages and emits messages)

Spark-first: each superstep is one keyed join (edges x active state) +
one keyed aggregation. The callbacks are Column expressions / DataFrame
transforms, never per-row Python, so every superstep stays in
whole-stage codegen. One eager ``localCheckpoint`` per superstep cuts
the unrolled lineage (plan size must not grow with iteration count),
and the exit test is a count observed on that same checkpoint job —
Flink's workset-empty termination without a separate Spark job.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from .sizing import sized_shuffle


def checkpoint_counting(
    df: DataFrame, cond: Column | None = None
) -> tuple[DataFrame, int | None]:
    """Materialize ``df`` with one eager ``localCheckpoint`` and return
    it with the number of its rows where ``cond`` holds (``None`` when
    no ``cond`` is given). The count is a ``DataFrame.observe`` metric
    filled by the checkpoint's own job, so it costs no extra Spark job,
    where a separate ``filter(cond).isEmpty()`` costs one."""
    if cond is None:
        return df.localCheckpoint(eager=True), None
    obs = Observation()
    df = df.observe(obs, F.count_if(cond).alias("n")).localCheckpoint(eager=True)
    return df, obs.get["n"]


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_steps: int,
    changed: Column | None = None,
) -> tuple[DataFrame, int | None]:
    """Run ``state = step(state, i)`` for up to ``max_steps`` supersteps,
    checkpointing the initial state and every superstep's result with
    ``checkpoint_counting``. With ``changed`` (a Column over the state's
    rows) the loop stops as soon as no row satisfies it — the delta
    iteration's empty workset; without it the loop runs a fixed count.
    Returns the final checkpointed state and the last observed count,
    which is nonzero only when the loop stopped at ``max_steps`` short of
    its fixpoint.

    A ``step`` may run several relaxations under one checkpoint. For the
    min-merge delta iterations (sssp, connected components) that is
    exact: their fixpoint does not depend on the relaxation schedule,
    and a second relaxation that changes nothing means the first one's
    changes were already propagated. Two per checkpoint is the cap: the
    un-checkpointed intermediate is read twice by the next relaxation
    (workset and merge side), so at three it would appear four times in
    the plan, doubling per level."""
    state, n = checkpoint_counting(state, changed)
    for i in range(max_steps):
        if n == 0:
            break
        state, n = checkpoint_counting(step(state, i), changed)
    return state, n


def _partitioned(edges: DataFrame, key: str) -> DataFrame:
    """A loop-invariant frame hash-partitioned on its per-superstep join
    key at the session shuffle width and persisted, so every superstep's
    join shuffles only the state side."""
    width = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return edges.repartition(width, key).persist(StorageLevel.MEMORY_AND_DISK)


def _symmetrized(edges: DataFrame, direction: str) -> DataFrame:
    e = edges.select("src", "dst", "value") if "value" in edges.columns else (
        edges.select("src", "dst").withColumn("value", F.lit(None))
    )
    if direction == "out":
        return e
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "value"
    )
    if direction == "in":
        return rev
    if direction == "all":
        return e.unionAll(rev)
    raise ValueError(f"unknown direction {direction!r}")


def gather_sum_apply_iteration(
    edges: DataFrame,
    vertices: DataFrame,
    gather: Callable[[Column, Column], Column],
    sum_agg: Callable[[Column], Column],
    apply_fn: Callable[[Column, Column], Column],
    max_iterations: int,
) -> DataFrame:
    """GatherSumApplyIteration.java: per superstep, every edge gathers
    a partial from its SOURCE vertex value (``gather(src_value,
    edge_value)``), partials are reduced per TARGET vertex with
    ``sum_agg``, and ``apply_fn(old_value, summed)`` produces the new
    value. Terminates when no vertex value changes (the reference's
    delta-based termination) or after ``max_iterations``.

    ``vertices``: (id, value) initial state. Returns (id, value).

    The merge emits each vertex's new value and its ``changed`` flag in
    the same row, so one checkpoint per superstep carries both the
    solution and the next workset."""
    with sized_shuffle(edges):
        e = _partitioned(_symmetrized(edges, "out"), "src")

        def superstep(state: DataFrame, _i: int) -> DataFrame:
            partials = e.join(
                state.filter("changed").select(
                    F.col("id").alias("src"), F.col("value").alias("src_value")
                ),
                "src",
            ).select(
                F.col("dst").alias("id"),
                gather(F.col("src_value"), F.col("value")).alias("partial"),
            )
            summed = partials.groupBy("id").agg(
                sum_agg(F.col("partial")).alias("summed")
            )
            new = (
                F.when(F.col("summed").isNull(), F.col("value"))
                .otherwise(apply_fn(F.col("value"), F.col("summed")))
            )
            return state.join(summed, "id", "left").select(
                "id",
                new.alias("value"),
                (~new.eqNullSafe(F.col("value"))).alias("changed"),
            )

        start = vertices.select("id", "value", F.lit(True).alias("changed"))
        state, _ = iterate(start, superstep, max_iterations, F.col("changed"))
        e.unpersist()
        return state.select("id", "value")


def scatter_gather_iteration(
    edges: DataFrame,
    vertices: DataFrame,
    scatter: Callable[[Column, Column], Column],
    gather_agg: Callable[[Column], Column],
    update: Callable[[Column, Column], Column],
    max_iterations: int,
    direction: str = "out",
) -> DataFrame:
    """ScatterGatherIteration.java: ``scatter(vertex_value,
    edge_value)`` builds the message each vertex sends along its edges
    (``direction``: 'out' | 'in' | 'all' =
    ScatterGatherConfiguration.setDirection); messages are combined
    per receiver with ``gather_agg`` and ``update(old, combined)``
    produces the new value — only vertices that RECEIVED a message
    update, per the reference's GatherFunction contract.

    Structurally this is gather-sum-apply with the callback split
    moved from the edge to the sender — the reference documents the
    same equivalence (both are implemented on delta iterations)."""
    return gather_sum_apply_iteration(
        _symmetrized(edges, direction),
        vertices,
        scatter,
        gather_agg,
        update,
        max_iterations,
    )


def vertex_centric_iteration(
    vertices: DataFrame,
    initial_messages: DataFrame,
    compute: Callable[[int, DataFrame, DataFrame], tuple[DataFrame, DataFrame]],
    max_supersteps: int,
) -> DataFrame:
    """VertexCentricIteration.java (Pregel): ``compute(superstep,
    vertices, messages) -> (new_vertices, new_messages)`` — the user
    step consumes this round's (id, message) rows and emits the next
    round's, exactly ComputeFunction.compute's contract lifted to
    DataFrames (message combining — MessageCombiner.java — is any
    groupBy the caller puts inside ``compute``). Terminates when no
    messages remain — Pregel's global halt — or at
    ``max_supersteps``. Returns the final (id, value) state."""
    solution, _ = checkpoint_counting(vertices.select("id", "value"))
    messages, n = checkpoint_counting(initial_messages, F.lit(True))
    for superstep in range(max_supersteps):
        if n == 0:
            break
        solution, messages = compute(superstep, solution, messages)
        solution, _ = checkpoint_counting(solution)
        messages, n = checkpoint_counting(messages, F.lit(True))
    return solution
