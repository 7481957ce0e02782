"""DataSet-style operator facade over Spark DataFrames.

Mirrors the semantics of the reference's batch API surface —
``DataSet.java`` (map :213, flatMap :282, filter :306, project :336,
mapPartition :259, aggregate :361, reduce :465, reduceGroup :499,
distinct :631, join :786, joinWithTiny/Huge :832/:855, outer joins
:876-1006, coGroup :1044, cross :1091, union :1276, partitionByHash :1292,
partitionByRange :1332, rebalance :1420, sortPartition :1436, first :609,
minBy/maxBy :558/:594, iterate :1191, iterateDelta :1241) and
``UnsortedGrouping.java`` (grouped aggregate :90, reduce :146,
reduceGroup :174, sortGroup :281, first :212, minBy/maxBy :231/:253) —
re-expressed on the DataFrame API so Catalyst plans every operation.

Design decisions (Spark-first, 100 TB discipline):

- **Expressions over UDFs.** ``map``/``flatMap``/``filter`` accept Column
  expressions (the fast, whole-stage-codegen path). Black-box Python
  callables are supported via Arrow-batched ``mapInPandas`` — the analog
  of the reference's accelerated map over flat buffers
  (``DataTransformation.java``/``TornadoMap``), with Arrow replacing the
  hand-rolled marshalling layer.
- **reduce is an aggregate contract.** Like the reference's GPU grouped
  reduce (``ReduceDriver.java:252-300``), correctness requires an
  associative+commutative combine; we expose it as Spark aggregate
  expressions, which Catalyst executes as partial+final aggregation (the
  same two-phase shape the reference implements by hand).
- **reduceGroup materializes each group** (``applyInPandas``) — same
  asymmetry as the reference's ``GroupReduceDriver`` vs ``ReduceDriver``.
- **Iterations are driver loops** with one eager ``localCheckpoint`` per
  round to cut lineage (``functions.iteration_models.checkpoint_counting``,
  the analog of the reference's cached marshalled buffers across
  iterations, ``SpillingResettableMutableObjectIterator.java:136``).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.iteration_models import checkpoint_counting
from ..functions.sizing import sized_shuffle

ColumnOrName = Column | str


def _cols(cols: Iterable[ColumnOrName]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in cols]


class Dataset:
    """A thin, immutable wrapper around a DataFrame exposing the
    reference's operator vocabulary. ``df`` is always accessible for
    dropping down to the raw DataFrame API."""

    def __init__(self, df: DataFrame):
        self.df = df

    # -- row-level transforms (§2.B) ------------------------------------
    def map(self, *exprs: Column) -> "Dataset":
        """1→1 transform as Column expressions (DataSet.java:213)."""
        return Dataset(self.df.select(*exprs))

    def map_pandas(self, fn, schema) -> "Dataset":
        """Black-box batch map via Arrow (the accelerated-map analog;
        fn: Iterator[pd.DataFrame] -> Iterator[pd.DataFrame])."""
        return Dataset(self.df.mapInPandas(fn, schema))

    def map_arrow(self, fn, schema) -> "Dataset":
        """Columnar batch map via raw Arrow RecordBatches — the closest
        analog of the reference's flat-buffer GPU path
        (AccelerationData → TaskSchedule)."""
        return Dataset(self.df.mapInArrow(fn, schema))

    def flat_map(self, expr: Column, alias: str = "value") -> "Dataset":
        """1→N transform: expr must be an array Column; rows explode
        (DataSet.java:282)."""
        return Dataset(self.df.select(F.explode(expr).alias(alias)))

    def filter(self, cond: Column) -> "Dataset":
        return Dataset(self.df.filter(cond))

    def project(self, *cols: ColumnOrName) -> "Dataset":
        """Tuple-field projection (DataSet.java:336)."""
        return Dataset(self.df.select(*_cols(cols)))

    def map_partition(self, fn, schema) -> "Dataset":
        """Partition-at-a-time transform (DataSet.java:259) —
        mapInPandas has exactly partition-batch semantics."""
        return Dataset(self.df.mapInPandas(fn, schema))

    # -- aggregations (§2.C) -------------------------------------------
    def aggregate(self, *aggs: Column) -> "Dataset":
        """Global aggregate (DataSet.java:361)."""
        return Dataset(self.df.agg(*aggs))

    def sum(self, field: str) -> "Dataset":
        return self.aggregate(F.sum(field).alias(f"sum_{field}"))

    def min(self, field: str) -> "Dataset":
        return self.aggregate(F.min(field).alias(f"min_{field}"))

    def max(self, field: str) -> "Dataset":
        return self.aggregate(F.max(field).alias(f"max_{field}"))

    def reduce(self, *aggs: Column) -> "Dataset":
        """Global pairwise fold — requires associative+commutative
        semantics, expressed as aggregate Columns (DataSet.java:465).
        Catalyst plans partial (map-side) + final aggregation."""
        return Dataset(self.df.agg(*aggs))

    def distinct(self, *cols: ColumnOrName) -> "Dataset":
        if cols:
            return Dataset(self.df.dropDuplicates([str(c) for c in cols]))
        return Dataset(self.df.distinct())

    def count(self) -> int:
        return self.df.count()

    def collect(self):
        return self.df.collect()

    def min_by(self, order: Sequence[ColumnOrName], *out: ColumnOrName) -> "Dataset":
        """Global arg-min returning the whole row, deterministic via the
        given total order (DataSet.java:558)."""
        d = self.df.orderBy(*_cols(order)).limit(1)
        return Dataset(d.select(*_cols(out)) if out else d)

    def max_by(self, order: Sequence[ColumnOrName], *out: ColumnOrName) -> "Dataset":
        d = self.df.orderBy(*[c.desc() for c in _cols(order)]).limit(1)
        return Dataset(d.select(*_cols(out)) if out else d)

    def first(self, n: int) -> "Dataset":
        return Dataset(self.df.limit(n))

    # -- grouping (§2.C) ------------------------------------------------
    def group_by(self, *keys: ColumnOrName) -> "Grouping":
        return Grouping(self.df, _cols(keys))

    # -- joins / set ops (§2.D) ----------------------------------------
    def join(self, other: "Dataset", on, how: str = "inner") -> "Dataset":
        return Dataset(self.df.join(other.df, on, how))

    def join_with_tiny(self, other: "Dataset", on) -> "Dataset":
        """Broadcast the OTHER side (DataSet.joinWithTiny, :832)."""
        return Dataset(self.df.join(F.broadcast(other.df), on, "inner"))

    def join_with_huge(self, other: "Dataset", on) -> "Dataset":
        """Broadcast SELF; the other side is huge (DataSet.java:855)."""
        return Dataset(F.broadcast(self.df).join(other.df, on, "inner"))

    def left_outer_join(self, other: "Dataset", on) -> "Dataset":
        return self.join(other, on, "left")

    def right_outer_join(self, other: "Dataset", on) -> "Dataset":
        return self.join(other, on, "right")

    def full_outer_join(self, other: "Dataset", on) -> "Dataset":
        return self.join(other, on, "full_outer")

    def semi_join(self, other: "Dataset", on) -> "Dataset":
        return self.join(other, on, "left_semi")

    def anti_join(self, other: "Dataset", on) -> "Dataset":
        return self.join(other, on, "left_anti")

    def co_group(
        self,
        other: "Dataset",
        self_keys: Sequence[ColumnOrName],
        other_keys: Sequence[ColumnOrName],
        fn,
        schema,
    ) -> "Dataset":
        """Full group-pairing UDF (DataSet.java:1044, CoGroupDriver):
        fn(key_tuple, left_pdf, right_pdf) -> pdf."""
        g1 = self.df.groupBy(*_cols(self_keys))
        g2 = other.df.groupBy(*_cols(other_keys))
        return Dataset(g1.cogroup(g2).applyInPandas(fn, schema))

    def cross(self, other: "Dataset") -> "Dataset":
        """Cartesian product (DataSet.java:1091)."""
        return Dataset(self.df.crossJoin(other.df))

    def cross_with_tiny(self, other: "Dataset") -> "Dataset":
        return Dataset(self.df.crossJoin(F.broadcast(other.df)))

    def union(self, other: "Dataset") -> "Dataset":
        """Bag union, same schema (DataSet.java:1276)."""
        return Dataset(self.df.unionAll(other.df))

    def intersect(self, other: "Dataset") -> "Dataset":
        return Dataset(self.df.intersect(other.df))

    def except_all(self, other: "Dataset") -> "Dataset":
        return Dataset(self.df.exceptAll(other.df))

    # -- sort / partitioning (§2.E) ------------------------------------
    def sort_partition(self, *order: ColumnOrName) -> "Dataset":
        """Per-partition sort (DataSet.java:1436) — no global shuffle."""
        return Dataset(self.df.sortWithinPartitions(*_cols(order)))

    def order_by(self, *order: ColumnOrName) -> "Dataset":
        """Global sort (a Spark superset of the reference's surface)."""
        return Dataset(self.df.orderBy(*_cols(order)))

    def partition_by_hash(self, *keys: ColumnOrName, n: int | None = None) -> "Dataset":
        args = ([n] if n else []) + _cols(keys)
        return Dataset(self.df.repartition(*args))

    def partition_by_range(self, *keys: ColumnOrName, n: int | None = None) -> "Dataset":
        args = ([n] if n else []) + _cols(keys)
        return Dataset(self.df.repartitionByRange(*args))

    def partition_custom(self, expr: Column, n: int) -> "Dataset":
        """User partitioner: repartition on a computed partition-id column
        (DataSet.java:1375)."""
        return Dataset(
            self.df.withColumn("__part__", expr)
            .repartition(n, "__part__")
            .drop("__part__")
        )

    def rebalance(self, n: int) -> "Dataset":
        """Round-robin redistribution (DataSet.java:1420)."""
        return Dataset(self.df.repartition(n))

    # -- iterations (§2.F) ---------------------------------------------
    def iterate(
        self,
        max_iterations: int,
        step: Callable[[DataFrame, int], DataFrame],
        converged: Callable[[DataFrame, DataFrame], bool] | None = None,
    ) -> "Dataset":
        """Bulk iteration (DataSet.java:1191): driver loop re-assigning
        the DataFrame; each round is checkpointed, truncating lineage the
        way the reference caches marshalled buffers across iterations."""
        cur = self.df
        with sized_shuffle(cur):
            for i in range(max_iterations):
                prev = cur
                cur, _ = checkpoint_counting(step(cur, i))
                if converged is not None and converged(prev, cur):
                    break
        return Dataset(cur)

    def iterate_delta(
        self,
        workset: "Dataset",
        max_iterations: int,
        step: Callable[[DataFrame, DataFrame, int], tuple[DataFrame, DataFrame]],
    ) -> "Dataset":
        """Delta iteration (DataSet.java:1241): (solution, workset) pairs
        evolve; terminates early when the workset empties, a count
        observed on the workset's own checkpoint."""
        solution, ws = self.df, workset.df
        with sized_shuffle(solution):
            for i in range(max_iterations):
                solution, ws = step(solution, ws, i)
                solution, _ = checkpoint_counting(solution)
                ws, n = checkpoint_counting(ws, F.lit(True))
                if n == 0:
                    break
        return Dataset(solution)

    # -- sinks (§2.A) ---------------------------------------------------
    def write_as_csv(self, path: str, mode: str = "error", sep: str = ",") -> None:
        self.df.write.mode(mode).option("sep", sep).csv(path)

    def write_as_text(self, path: str, mode: str = "error") -> None:
        cols = self.df.columns
        out = self.df.select(F.concat_ws(",", *cols).alias("value"))
        out.write.mode(mode).text(path)

    def write_parquet(self, path: str, mode: str = "error") -> None:
        self.df.write.mode(mode).parquet(path)


class Grouping:
    """Analog of UnsortedGrouping/SortedGrouping (UnsortedGrouping.java:51):
    an intermediate grouped view, not a dataset."""

    def __init__(self, df: DataFrame, keys: list[Column], order: list[Column] | None = None):
        self._df = df
        self._keys = keys
        self._order = order or []

    def sort_group(self, *order: ColumnOrName) -> "Grouping":
        """Secondary sort within the group (UnsortedGrouping.java:281)."""
        return Grouping(self._df, self._keys, self._order + _cols(order))

    def aggregate(self, *aggs: Column) -> Dataset:
        return Dataset(self._df.groupBy(*self._keys).agg(*aggs))

    # sugar mirroring UnsortedGrouping.sum/min/max (:106-128)
    def sum(self, field: str) -> Dataset:
        return self.aggregate(F.sum(field).alias(f"sum_{field}"))

    def min(self, field: str) -> Dataset:
        return self.aggregate(F.min(field).alias(f"min_{field}"))

    def max(self, field: str) -> Dataset:
        return self.aggregate(F.max(field).alias(f"max_{field}"))

    def reduce(self, *aggs: Column) -> Dataset:
        """Per-key fold; associative+commutative contract
        (UnsortedGrouping.java:146)."""
        return self.aggregate(*aggs)

    def reduce_group(self, fn, schema) -> Dataset:
        """Full-group UDF, non-associative OK (UnsortedGrouping.java:174):
        the group is materialized as one pandas DataFrame — the documented
        scale caveat, exactly like the reference's GroupReduceDriver. If a
        sort_group order is set, the group arrives sorted (SortedGrouping
        iteration contract, UnsortedGrouping.sortGroup).

        Order of operations matters: applyInPandas requires its child
        hash-partitioned on the keys and sorted by the keys, so a bare
        sortWithinPartitions BEFORE that exchange would be destroyed by
        it. Repartitioning on the keys first and then sorting by
        (keys + order) satisfies both requirements — EnsureRequirements
        inserts no further exchange or sort, so the secondary order
        survives into the UDF."""
        df = self._df
        if self._order:
            df = df.repartition(*self._keys).sortWithinPartitions(
                *(self._keys + self._order)
            )
        return Dataset(df.groupBy(*self._keys).applyInPandas(fn, schema))

    def min_by(self, order: Sequence[ColumnOrName]) -> Dataset:
        """Per-key arg-min whole row, deterministic tie-break via the
        full order list (UnsortedGrouping.java:231)."""
        w = W.partitionBy(*self._keys).orderBy(*_cols(order))
        return Dataset(
            self._df.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .drop("__rn__")
        )

    def max_by(self, order: Sequence[ColumnOrName]) -> Dataset:
        w = W.partitionBy(*self._keys).orderBy(*[c.desc() for c in _cols(order)])
        return Dataset(
            self._df.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .drop("__rn__")
        )

    def first(self, n: int, order: Sequence[ColumnOrName] | None = None) -> Dataset:
        """First n per group (UnsortedGrouping.java:212); deterministic
        only when an order is given (sortGroup semantics)."""
        ordr = _cols(order) if order else (self._order or self._keys)
        w = W.partitionBy(*self._keys).orderBy(*ordr)
        return Dataset(
            self._df.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") <= n)
            .drop("__rn__")
        )
