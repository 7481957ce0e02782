"""The benchmark's two workloads.

A workload turns a seeded ``numpy.random.Generator`` into inputs and a
list of :class:`Call` objects. Each call is timed in two phases from the
outside: ``build`` calls the package's public function, ``execute``
materializes what it returned on the driver (a DataFrame goes through
``toArrow``; a function that returns plain values has already run its
jobs during ``build``). ``check`` compares the materialized output with
a reference that does not use Spark and runs outside the timed region.
"""

from __future__ import annotations

import heapq
import math
import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datagen import layered_edges, skewed_edges, write_tables

#: Relational queries: the three slowest TPC-H shapes.
SQL_RELATIONAL = [
    "q51_tpch_q9",
    "q54_tpch_q20",
    "q55_tpch_q21",
]
#: LLM-data queries: the two deepest panels and the model-sharing pair
#: (``lm_perplexity_bucket`` reuses the ``lm_kn_bigram`` model within a
#: pass, the only cross-query sharing the memo layer may do).
SQL_LLM = [
    "decontaminate_verdict_panel",
    "corpus_datasheet_v3",
    "lm_kn_bigram",
    "lm_perplexity_bucket",
]

SQL_SF = 0.003
TINY_SF = 0.001


@dataclass
class Call:
    """One timed call: ``build()`` returns what the package returned and
    ``execute(built)`` the materialized output that ``check`` reads."""

    name: str
    build: Callable[[], Any]
    execute: Callable[[Any], Any] = lambda built: built
    check: Callable[[Any], bool] = lambda out: True
    layer: str = ""
    meta: dict = field(default_factory=dict)


# ---------------------------------------------------------------- checks


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 3)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.replace(tzinfo=None).isoformat() if hasattr(v, "tzinfo") else v.isoformat()
    return float(v) if type(v).__name__ == "Decimal" else v


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1.5e-4)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return _canon(a) == _canon(b)


def tables_match(got: pa.Table, want: pa.Table) -> bool:
    """Order-insensitive row comparison by column name. Floats agree to
    the oracle's 4th decimal (with slack for rounding-boundary ties)."""
    cols = sorted(got.column_names)
    if cols != sorted(want.column_names) or got.num_rows != want.num_rows:
        return False

    def rows(t):
        recs = t.select(cols).to_pylist()
        out = [tuple(r[c] for c in cols) for r in recs]
        out.sort(key=lambda r: tuple((x is None, str(_canon(x))) for x in r))
        return out

    return all(
        all(_close(x, y) for x, y in zip(r, s)) for r, s in zip(rows(got), rows(want))
    )


def duckdb_views(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


# ------------------------------------------------------ sql_first_call


class SqlFirstCall:
    """Seven registered queries, three relational and four LLM-data,
    each called once per pass on a fresh copy of the tables under a new
    path, so every call is a first call for the memo layer. The order is
    fixed, so every run makes the same calls in the same order."""

    name = "sql_first_call"

    def __init__(self, rng: np.random.Generator, root: str, smoke: bool):
        from flink_tornadovm_artifact_spark.queries import ORACLE, QUERIES
        from flink_tornadovm_artifact_spark.tables import TABLES

        self.queries, self.oracle, self.tables = QUERIES, ORACLE, TABLES
        self.rng = rng
        self.root = root
        self.names = SQL_RELATIONAL + SQL_LLM
        self.sf = TINY_SF if smoke else SQL_SF
        self.src = os.path.join(root, "sql_src")
        self.expected: dict[str, pa.Table] = {}
        self.passes = 0

    def prepare(self, spark) -> None:
        shutil.rmtree(self.src, ignore_errors=True)
        write_tables(self.src, self.rng, self.sf)

    def _oracle(self, q: str) -> pa.Table:
        if q not in self.expected:
            con = duckdb_views(self.src, self.tables)
            try:
                self.expected[q] = con.execute(self.oracle[q]).fetch_arrow_table()
            finally:
                con.close()
        return self.expected[q]

    def calls(self) -> list[Call]:
        path = os.path.join(self.root, f"sql_pass{self.passes}")
        self.passes += 1
        shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(self.src, path)
        return [self.call(q, path) for q in self.names]

    def warmup_calls(self) -> list[Call]:
        return self.calls()

    def call(self, q: str, path: str) -> Call:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        return Call(
            name=q,
            build=lambda: self.queries[q](spark, path),
            execute=DataFrame.toArrow,
            check=lambda out: tables_match(out, self._oracle(q)),
            layer="queries",
        )


# ------------------------------------------------------- graph half

INF = 1 << 50


def _und_adj(src, dst):
    adj: dict[int, set] = {}
    for s, d in zip(src.tolist(), dst.tolist()):
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    return adj


def ref_sssp(src, dst, w, source):
    out: dict[int, list] = {}
    for s, d, x in zip(src.tolist(), dst.tolist(), w.tolist()):
        out.setdefault(s, []).append((d, x))
    dist = {source: 0}
    heap = [(0, source)]
    while heap:
        dd, v = heapq.heappop(heap)
        if dd > dist[v]:
            continue
        for u, x in out.get(v, ()):
            if dd + x < dist.get(u, INF):
                dist[u] = dd + x
                heapq.heappush(heap, (dd + x, u))
    return dist


def ref_components(src, dst):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in zip(src.tolist(), dst.tolist()):
        a, b = find(s), find(d)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {v: find(v) for v in list(parent)}


def ref_pagerank(src, dst, iterations, damping=0.85):
    verts = np.unique(np.concatenate([src, dst]))
    idx = {v: i for i, v in enumerate(verts.tolist())}
    n = len(verts)
    si = np.array([idx[v] for v in src.tolist()])
    di = np.array([idx[v] for v in dst.tolist()])
    deg = np.bincount(si, minlength=n).astype(float)
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        inflow = np.bincount(di, weights=r[si] / deg[si], minlength=n)
        r = (1.0 - damping) / n + damping * inflow
    return dict(zip(verts.tolist(), r.tolist()))


def ref_label_propagation(src, dst, iterations):
    verts = set(src.tolist()) | set(dst.tolist())
    label = {v: v for v in verts}
    ins: dict[int, list] = {}
    for s, d in zip(src.tolist(), dst.tolist()):
        ins.setdefault(d, []).append(s)
    for _ in range(iterations):
        new = {}
        for v in verts:
            freq: dict[int, int] = {}
            for s in ins.get(v, ()):
                freq[label[s]] = freq.get(label[s], 0) + 1
            best = max(list(freq.items()) + [(label[v], 1)], key=lambda lf: (lf[1], lf[0]))
            new[v] = best[0]
        label = new
    return label


def ref_hits(src, dst, iterations):
    verts = np.unique(np.concatenate([src, dst]))
    idx = {v: i for i, v in enumerate(verts.tolist())}
    si = np.array([idx[v] for v in src.tolist()])
    di = np.array([idx[v] for v in dst.tolist()])
    n = len(verts)
    a = np.ones(n)
    for _ in range(iterations):
        h = np.bincount(si, weights=a[di], minlength=n)
        a = np.bincount(di, weights=h[si], minlength=n)
        a = a / np.sqrt((a * a).sum())
    h = h / np.sqrt((h * h).sum())
    return {v: (h[i], a[i]) for v, i in idx.items()}


def ref_k_core(src, dst, k):
    adj = _und_adj(src, dst)
    alive = set(adj)
    deg = {v: len(adj[v]) for v in alive}
    while True:
        drop = [v for v in alive if deg[v] < k]
        if not drop:
            return alive
        for v in drop:
            alive.discard(v)
        for v in drop:
            for u in adj[v]:
                if u in alive:
                    deg[u] -= 1


def ref_min_ancestor(src, dst):
    """Fixpoint of value[v] = min(value[v], value[u] for u -> v)."""
    verts = np.unique(np.concatenate([src, dst]))
    val = dict(zip(verts.tolist(), verts.tolist()))
    changed = True
    while changed:
        changed = False
        for s, d in zip(src.tolist(), dst.tolist()):
            if val[s] < val[d]:
                val[d] = val[s]
                changed = True
    return val


def ref_hops(src, dst, source):
    out: dict[int, list] = {}
    for s, d in zip(src.tolist(), dst.tolist()):
        out.setdefault(s, []).append(d)
    hops = {source: 0}
    frontier = [source]
    while frontier:
        nxt = []
        for v in frontier:
            for u in out.get(v, ()):
                if u not in hops:
                    hops[u] = hops[v] + 1
                    nxt.append(u)
        frontier = nxt
    return hops


def _rows(tbl: pa.Table, key: str, *vals: str) -> dict:
    cols = [tbl.column(key).to_pylist()] + [tbl.column(v).to_pylist() for v in vals]
    if len(vals) == 1:
        return dict(zip(cols[0], cols[1]))
    return {k: tuple(r) for k, *r in zip(*cols)}


def _same(got: dict, want: dict, tol: float = 0.0) -> bool:
    if got.keys() != want.keys():
        return False
    if not tol:
        return got == want
    flat = lambda v: v if isinstance(v, tuple) else (v,)  # noqa: E731
    return all(
        all(math.isclose(a, b, rel_tol=tol, abs_tol=tol) for a, b in zip(flat(got[k]), flat(want[k])))
        for k in want
    )


#: (layers, width, fanout) of the long-diameter shape and (vertices,
#: edges) of the skewed one. The smoke sizes, which the warm-up pass also
#: uses, keep the shapes with fewer supersteps: two layers, one iteration.
LONG = (3, 24, 2)
SKEW = (800, 3000)
LONG_SMOKE = (2, 8, 2)
SKEW_SMOKE = (60, 200)
#: Which calls run on which shape. On the layered DAG every path to
#: layer i has i hops, so the shortest-path, min-label and breadth-first
#: calls take one superstep per layer however the weights fall; on the
#: skewed graph the component, fixed-iteration and peel calls take a few
#: supersteps over large frontiers.
GRAPH_CALLS = {
    "long": ["sssp", "gsa_min_label", "scatter_gather_sssp", "pregel_hops"],
    "skew": ["connected_components", "pagerank", "label_propagation", "hits", "k_core"],
}
#: Iterations of pagerank, label_propagation and hits.
ITERS = {"pagerank": 2, "lp": 1, "hits": 1}
ITERS_SMOKE = {"pagerank": 1, "lp": 1, "hits": 1}
K_CORE = 3


class GraphIterative:
    """Half of the ``graph_kernel`` workload: the six graph algorithms and
    the three Gelly iteration models on two seeded shapes, a layered sparse
    DAG and a Zipf-skewed graph (see ``GRAPH_CALLS``)."""

    def __init__(self, rng: np.random.Generator, root: str, smoke: bool):
        self.rng = rng
        self.root = root
        self.smoke = smoke

    def prepare(self, spark) -> None:
        long_, skew = (LONG_SMOKE, SKEW_SMOKE) if self.smoke else (LONG, SKEW)
        self.edges = {
            "long": layered_edges(self.rng, *long_),
            "skew": skewed_edges(self.rng, *skew),
        }
        self.paths = {}
        for shape, (s, d, w) in self.edges.items():
            self.paths[shape] = os.path.join(self.root, f"edges_{shape}.parquet")
            pq.write_table(pa.table({"src": s, "dst": d, "weight": w}), self.paths[shape])
        self.refs: dict[str, dict] = {}

    def _ref(self, key: str, fn):
        if key not in self.refs:
            self.refs[key] = fn()
        return self.refs[key]

    def calls(self) -> list[Call]:
        out = []
        for shape in ("long", "skew"):
            out += self._shape_calls(shape)
        return out

    def _shape_calls(self, shape: str) -> list[Call]:
        from flink_tornadovm_artifact_spark.functions import graph
        from flink_tornadovm_artifact_spark.functions import iteration_models as im

        from pyspark.sql import SparkSession

        e = SparkSession.getActiveSession().read.parquet(self.paths[shape])
        e2 = e.select("src", "dst")
        s, d, w = self.edges[shape]
        n_iter = 60
        it = ITERS_SMOKE if self.smoke else ITERS
        r = lambda k, fn: self._ref(f"{shape}.{k}", fn)  # noqa: E731
        verts = e.select(F.col("src").alias("id")).union(e.select(F.col("dst").alias("id"))).distinct()

        def pregel_hops():
            """Breadth-first hop counts from vertex 0 as a Pregel compute
            step: a vertex that improves sends value + 1 to its out-edges."""

            def compute(_step, sol, msgs):
                best = msgs.groupBy("id").agg(F.min("msg").alias("msg"))
                j = sol.join(best, "id", "left")
                improved = F.col("msg").isNotNull() & (F.col("msg") < F.col("value"))
                new_sol = j.select("id", F.when(improved, F.col("msg")).otherwise(F.col("value")).alias("value"))
                sent = (
                    j.filter(improved)
                    .join(e2, F.col("id") == F.col("src"))
                    .select(F.col("dst").alias("id"), (F.col("msg") + 1).alias("msg"))
                )
                return new_sol, sent

            init = verts.withColumn("value", F.lit(INF).cast("long"))
            first = e.sparkSession.createDataFrame([(0, 0)], "id long, msg long")
            return im.vertex_centric_iteration(init, first, compute, n_iter)

        def sg_sssp():
            init = verts.withColumn(
                "value", F.when(F.col("id") == 0, F.lit(0)).otherwise(F.lit(INF)).cast("long")
            )
            return im.scatter_gather_iteration(
                e.select("src", "dst", F.col("weight").alias("value")),
                init,
                lambda sv, ev: sv + ev,
                F.min,
                lambda old, new: F.least(old, new),
                n_iter,
            )

        def gsa_min():
            return im.gather_sum_apply_iteration(
                e2, verts.withColumn("value", F.col("id")),
                lambda sv, _ev: sv, F.min, lambda old, new: F.least(old, new), n_iter,
            )

        def dist_check(want_fn, unreachable_as_inf=True):
            def check(out):
                want = r(want_fn.__name__, want_fn)
                got = _rows(out, "id", "value")
                full = {v: want.get(v, INF) for v in got} if unreachable_as_inf else want
                return _same(got, full)

            return check

        def sssp_ref():
            return ref_sssp(s, d, w, 0)

        def hops_ref():
            return ref_hops(s, d, 0)

        def minanc_ref():
            return ref_min_ancestor(s, d)

        specs = [
            ("sssp", lambda: graph.sssp(e, 0, max_iterations=n_iter),
             lambda o: _same(_rows(o, "vertex", "distance"), r("sssp", sssp_ref))),
            ("connected_components", lambda: graph.connected_components(e2, max_iterations=n_iter),
             lambda o: _same(_rows(o, "vertex", "component"), r("cc", lambda: ref_components(s, d)))),
            ("pagerank", lambda: graph.pagerank(e2, iterations=it["pagerank"]),
             lambda o: _same(_rows(o, "vertex", "rank"), r("pr", lambda: ref_pagerank(s, d, it["pagerank"])), 1e-9)),
            ("label_propagation", lambda: graph.label_propagation(e2, iterations=it["lp"]),
             lambda o: _same(_rows(o, "vertex", "label"), r("lp", lambda: ref_label_propagation(s, d, it["lp"])))),
            ("hits", lambda: graph.hits(e2, iterations=it["hits"]),
             lambda o: _same(_rows(o, "vertex", "hub", "auth"), r("hits", lambda: ref_hits(s, d, it["hits"])), 1e-9)),
            ("k_core", lambda: graph.k_core(e2, k=K_CORE, max_iterations=n_iter),
             lambda o: set(o.column("vertex").to_pylist()) == r("kc", lambda: ref_k_core(s, d, K_CORE))),
            ("gsa_min_label", gsa_min, dist_check(minanc_ref, unreachable_as_inf=False)),
            ("scatter_gather_sssp", sg_sssp, dist_check(sssp_ref)),
            ("pregel_hops", pregel_hops, dist_check(hops_ref)),
        ]
        return [
            Call(name=f"{shape}.{alg}", build=b, execute=DataFrame.toArrow, check=c, layer="graph",
                 meta={"shape": shape, "alg": alg})
            for alg, b, c in specs
            if alg in GRAPH_CALLS[shape]
        ]


# ------------------------------------------------------ kernel half

VADD_N = 1 << 17
MM_ROWS, MM_DIM = 1024, 64
DFT_N = 1024
PI_N = 1 << 20
PI_PARTITIONS = 8
KM_N, KM_K, KM_ITERS = 1 << 15, 8, 2
LR_N, LR_DIM, LR_ITERS = 1 << 13, 64, 2
SMOKE_SCALE = 64


def splitmix64(x: np.ndarray) -> np.ndarray:
    """The per-index uniform stream ``pi_estimation`` documents."""
    m = np.uint64(0xFFFFFFFFFFFFFFFF)
    z = (x + np.uint64(0x9E3779B97F4A7C15)) & m
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & m
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & m
    z = z ^ (z >> np.uint64(31))
    return (z >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def numpy_pi(n: int) -> float:
    i = np.arange(n, dtype=np.uint64)
    x = splitmix64(i * np.uint64(2))
    y = splitmix64(i * np.uint64(2) + np.uint64(1))
    return 4.0 * int(((x * x + y * y) <= 1.0).sum()) / n


def numpy_dft(sig: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    n = len(sig)
    ang = -2.0 * np.pi * np.arange(n)[:, None] * np.arange(n)[None, :] / n
    return (np.cos(ang) * sig).sum(axis=1), (np.sin(ang) * sig).sum(axis=1)


class KernelTier:
    """Half of the ``graph_kernel`` workload: seeded arrays through the
    four Arrow/NumPy reference kernels, KMeans and logistic regression."""

    def __init__(self, rng: np.random.Generator, root: str, smoke: bool):
        self.rng = rng
        self.root = root
        self.div = SMOKE_SCALE if smoke else 1

    def prepare(self, spark) -> None:
        rng, div = self.rng, self.div
        self.vadd = rng.random((2, VADD_N // div))
        self.mm_a = rng.random((MM_ROWS // div, MM_DIM))
        self.mm_b = rng.random((MM_DIM, MM_DIM))
        self.sig = rng.random(DFT_N // div)
        self.pi_n = PI_N // div
        self.km = rng.random((KM_N // div, 2)) * 100.0
        self.km_init = [(i, *self.km[i]) for i in range(KM_K)]
        self.lr_x = rng.normal(0.0, 1.0, (LR_N // div, LR_DIM))
        self.lr_y = (self.lr_x @ rng.normal(0.0, 1.0, LR_DIM) > 0).astype(np.float64)
        path = os.path.join(self.root, "kernel_inputs")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)

        def mk(name: str, tbl: pa.Table) -> str:
            out = os.path.join(path, f"{name}.parquet")
            pq.write_table(tbl, out)
            return out

        self.paths = {
            "vadd": mk("vadd", pa.table({"a": self.vadd[0], "b": self.vadd[1]})),
            "mm": mk("mm", pa.table({
                "row_id": np.arange(len(self.mm_a), dtype=np.int64),
                "vec": pa.FixedSizeListArray.from_arrays(self.mm_a.ravel(), MM_DIM).cast(pa.list_(pa.float64())),
            })),
            "km": mk("km", pa.table({"px": self.km[:, 0], "py": self.km[:, 1]})),
            "lr": mk("lr", pa.table({
                "features": pa.FixedSizeListArray.from_arrays(self.lr_x.ravel(), LR_DIM).cast(pa.list_(pa.float64())),
                "label": self.lr_y,
            })),
        }
        self.want = {}

    def _want(self, key, fn):
        if key not in self.want:
            self.want[key] = fn()
        return self.want[key]

    def numpy_math(self) -> dict[str, Callable[[], Any]]:
        """The same math as each kernel, in plain NumPy on the same arrays."""
        return {
            "vector_add": lambda: self.vadd[0] + self.vadd[1],
            "matmul_rows": lambda: self.mm_a @ self.mm_b,
            "dft": lambda: numpy_dft(self.sig),
            "pi_estimation": lambda: numpy_pi(self.pi_n),
        }

    def calls(self) -> list[Call]:
        from pyspark.sql import SparkSession

        from flink_tornadovm_artifact_spark.functions import kernels
        from flink_tornadovm_artifact_spark.functions.kmeans import kmeans, kmeans_numpy
        from flink_tornadovm_artifact_spark.functions.logreg import train, train_numpy

        spark = SparkSession.getActiveSession()
        read = spark.read.parquet
        want = self._want
        np_math = self.numpy_math()

        def vadd_check(o):
            got = o.sort_by("i").column("s").to_numpy()
            return np.allclose(got, want("vadd", np_math["vector_add"]), rtol=0, atol=1e-12)

        def mm_check(o):
            o = o.sort_by("row_id")
            got = np.stack(o.column("vec").to_numpy(zero_copy_only=False))
            return np.allclose(got, want("mm", np_math["matmul_rows"]), rtol=1e-9, atol=1e-9)

        def dft_check(o):
            o = o.sort_by("k")
            re, im = want("dft", np_math["dft"])
            return np.allclose(o.column("re").to_numpy(), re, atol=1e-6) and np.allclose(
                o.column("im").to_numpy(), im, atol=1e-6
            )

        def km_check(got):
            ref = want("km", lambda: kmeans_numpy(self.km, self.km_init, KM_ITERS))
            return [c for c, *_ in got] == [c for c, *_ in ref] and np.allclose(
                [xy for _, *xy in got], [xy for _, *xy in ref], rtol=1e-9, atol=1e-9
            )

        def lr_check(got):
            ref = want("lr", lambda: train_numpy(self.lr_x, self.lr_y, LR_ITERS))
            return np.allclose(got, ref, rtol=1e-9, atol=1e-12)

        return [
            Call("vector_add",
                 lambda: kernels.vector_add(
                     read(self.paths["vadd"]).withColumn("i", F.monotonically_increasing_id()), keep=("i",)
                 ),
                 DataFrame.toArrow, vadd_check, "kernels"),
            Call("matmul_rows", lambda: kernels.matmul_rows(read(self.paths["mm"]), self.mm_b),
                 DataFrame.toArrow, mm_check, "kernels"),
            Call("dft", lambda: kernels.dft(self.sig, spark), DataFrame.toArrow, dft_check, "kernels"),
            Call("pi_estimation", lambda: kernels.pi_estimation(spark, self.pi_n, PI_PARTITIONS),
                 check=lambda got: got == want("pi", np_math["pi_estimation"]), layer="kernels"),
            Call("kmeans", lambda: kmeans(read(self.paths["km"]), self.km_init, KM_ITERS),
                 check=km_check, layer="kmeans", meta={"iters": KM_ITERS}),
            Call("logreg", lambda: train(read(self.paths["lr"]), LR_DIM, LR_ITERS),
                 check=lr_check, layer="logreg", meta={"iters": LR_ITERS}),
        ]

    def arrow_hop(self) -> Callable[[], Any]:
        """An identity ``mapInArrow`` over the vector_add input: the
        Arrow <-> Python-worker round trip with no kernel math."""
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        df = spark.read.parquet(self.paths["vadd"])
        return lambda: df.mapInArrow(lambda it: it, df.schema).toArrow()


class GraphKernel:
    """Everything iterative or Arrow-batched in one workload: the graph
    supersteps first, then the kernel tier. Neither touches the
    ``queries`` build, Catalyst-heavy plans or the memo layer."""

    name = "graph_kernel"

    def __init__(self, rng: np.random.Generator, root: str, smoke: bool):
        self.graph = GraphIterative(rng, root, smoke)
        self.kernels = KernelTier(rng, root, smoke)

    def prepare(self, spark) -> None:
        self.graph.prepare(spark)
        self.kernels.prepare(spark)

    def calls(self) -> list[Call]:
        return self.graph.calls() + self.kernels.calls()

    def warmup_calls(self) -> list[Call]:
        """Every graph call, but only the first kernel call: it starts
        the Python workers, and the other kernels add little JIT work."""
        return self.graph.calls() + self.kernels.calls()[:1]

    def numpy_math(self):
        return self.kernels.numpy_math()

    def arrow_hop(self):
        return self.kernels.arrow_hop()


WORKLOADS = {w.name: w for w in (SqlFirstCall, GraphKernel)}
