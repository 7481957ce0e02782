"""Shared helpers for the declared query set, and its registry
(``register`` fills ``QUERIES`` and ``ORACLE``).

Oracle-exact aggregation: the verification driver hash-compares Spark vs
DuckDB with floats rounded to 4 decimals. A double SUM over 10^5+ rows can
differ between engines by more than 1e-4 (different accumulation order), so
every large SUM here is computed in DECIMAL — exact and identical in both
engines — and cast back to DOUBLE at the end. Source money columns have 2
decimal digits, so a (18,2)-scale cast is lossless. AVG is derived from the
exact decimal sum divided by the count, written with the same expression
shape on both sides so the double division is bit-identical.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# Wide enough for any testdata magnitude; scale 4 covers 2-decimal money
# columns and 4-decimal rates losslessly.
#
# Why DECIMAL and not a ×10000 scaled-BIGINT sum (which benches ~1.6×
# faster locally): at 100 TB lineitem is ~6e11 rows; a scaled-long sum
# reaches ~6e20 and silently wraps past the int64 max (9.2e18) with ANSI
# off, while Spark's decimal sum auto-widens the result type
# (decimal(18,4) → decimal(28,4), max 1e24) and stays exact. The decimal
# overhead is the price of overflow-correctness at scale.
DEC = "decimal(18,4)"


def dsum(col: str | Column) -> Column:
    """Exact decimal sum of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def dsum_sql(expr: str) -> str:
    """DuckDB rendering of :func:`dsum` (identical math)."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE)"


def davg(col: str | Column) -> Column:
    """Exact-sum-based average: CAST(decimal_sum AS DOUBLE) / count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double") / F.count(c)


def davg_sql(expr: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE) / COUNT({expr})"
    )


#: The one session memo: (applicationId, sf_dir, fn, *extra args) -> value.
_MEMO: dict[tuple, object] = {}


def _evict(keep_app: str | None) -> None:
    """Drop every entry not keyed to ``keep_app`` and unpersist the
    DataFrames it holds, bare or inside a tuple/list (best-effort: a
    frame whose session already stopped has no cache left to free, and
    unpersist on a dead context raises). Without it, entries of stopped
    sessions pile up for the life of the process, and their persisted
    frames stay pinned for as long as that session lives. One dict
    scan, no Spark jobs."""
    from pyspark.sql import DataFrame

    for key in [k for k in _MEMO if k[0] != keep_app]:
        val = _MEMO.pop(key)
        for f in val if isinstance(val, (tuple, list)) else (val,):
            if isinstance(f, DataFrame):
                try:
                    f.unpersist(blocking=False)
                except Exception:
                    pass


def session_memo(fn):
    """Memoize ``fn(spark, sf_dir, *extra)`` per (session, corpus, args).

    What goes where: a lazily built frame that several queries share
    stays on Spark's CacheManager plan-dedup (persist the same plan, and
    every consumer's scan reads one cached relation). This memo holds
    BUILT query plans (PySpark analyzes eagerly per transformation, so a
    deep query's build repays its Catalyst chain on every call) and
    values whose build runs jobs: probes, trained artifacts, persisted
    or checkpointed frames. A cached plan still recomputes from its
    inputs on every action. Two entries, ``lm_kn_bigram`` and
    ``_principal_direction_rows``, serve a repeat call its answer.

    Keyed by the session's applicationId, so a new session never reads
    another's state. Every lookup drops the entries of other sessions
    and unpersists their frames; ``session_memo.clear()`` drops all.
    """

    @functools.wraps(fn)
    def wrapped(spark, sf_dir, *extra):
        app = spark.sparkContext.applicationId
        _evict(app)
        key = (app, sf_dir, fn, *extra)
        if key not in _MEMO:
            _MEMO[key] = fn(spark, sf_dir, *extra)
        return _MEMO[key]

    return wrapped


session_memo.clear = lambda: _evict(None)


#: Every declared query, name -> callable(spark, sf_dir) -> DataFrame, and
#: its DuckDB oracle SQL, in registration (= module import) order.
QUERIES: dict[str, Callable] = {}
ORACLE: dict[str, str] = {}


def register(fn: Callable, oracle: str, memo: bool = True) -> Callable:
    """Declare ``fn`` as query ``fn.__name__``, checked against ``oracle``.

    The registry serves each query's BUILT lazy DataFrame from
    :func:`session_memo`. Pass ``memo=False`` when the build itself
    executes corpus-scale work (a driver loop, a training run, an eager
    checkpoint or collect of corpus state): a memoized plan would hand
    later calls that materialized state instead of a plan. A ``fn`` that
    is already a ``session_memo`` wrapper is stored as it is.

    Returns ``fn`` unchanged, so the module-level name stays the raw build.
    """
    name = fn.__name__
    if name in QUERIES:
        raise ValueError(f"duplicate query name {name!r}")
    if not oracle:
        raise ValueError(f"query {name!r} has no oracle SQL")
    wrap = memo and not hasattr(fn, "__wrapped__")
    QUERIES[name] = session_memo(fn) if wrap else fn
    ORACLE[name] = oracle
    return fn

