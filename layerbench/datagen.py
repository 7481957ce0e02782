"""Seeded inputs for the layer benchmark.

Every generator takes a ``numpy.random.Generator`` and returns plain
arrays or writes parquet, so the same seed always gives the same inputs.
The relational tables follow the schemas and value domains of the
engine's ten testdata tables (TESTDATA.md): row counts scale with ``sf``
exactly as the committed sf0.001/sf0.01/sf0.1 sets do, and every column
is drawn from the same domain, so the registered queries and their
DuckDB oracles run unchanged on them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, rng: np.random.Generator, sf: float) -> None:
    """Write the ten engine tables for scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = int(5_000 * (10 * sf) ** 0.5)
    n_emb = int(2_000 * (10 * sf) ** 0.3)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pkeys = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pkeys,
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (pkeys % 1000) / 10.0,
    })
    days = (DAY_US * rng.integers(0, 2404, n_ord)) + _EPOCH_1995
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(days),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okeys)
    linenos = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    _write(out_dir, "lineitem", {
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": linenos,
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(DAY_US * rng.integers(1, 2500, n_li) + _EPOCH_1995),
    })
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + _EPOCH_2024
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    vocab = np.array(VOCAB)
    for _ in range(n_docs):
        texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 101))]))
    # near-duplicates (one appended token) and a few exact duplicates, so
    # the dedup and decontamination queries have something to find
    for i in rng.choice(n_docs, n_docs // 40, replace=False):
        texts[i] = texts[(i + 1) % n_docs] + " dup"
    for i in rng.choice(n_docs, max(1, n_docs // 500), replace=False):
        texts[i] = texts[(i + 7) % n_docs]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    emb = centers[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": labels.astype(np.int32),
    })


def layered_edges(rng: np.random.Generator, layers: int, width: int, fanout: int):
    """Long-diameter sparse DAG: ``layers`` layers of ``width`` vertices,
    each vertex linked to ``fanout`` random vertices of the next layer.
    Every path from vertex 0 to layer i has exactly i hops, so shortest
    paths and min-label propagation need one superstep per layer while
    the frontier stays one layer wide. Returns (src, dst, weight)."""
    src, dst = [], []
    for layer in range(layers - 1):
        base = layer * width
        s = np.repeat(np.arange(base, base + width), fanout)
        d = base + width + rng.integers(0, width, len(s))
        src.append(s)
        dst.append(d)
    return _dedup(np.concatenate(src), np.concatenate(dst), rng)


def skewed_edges(rng: np.random.Generator, n: int, m: int):
    """Short-diameter skewed graph: ``m`` edges whose endpoints are drawn
    from a Zipf-like degree law over ``n`` vertices, so a few hubs hold
    most edges and every vertex is a few hops from a hub. A spanning
    chain through the hub keeps the graph connected. Returns
    (src, dst, weight)."""
    p = 1.0 / np.arange(1, n + 1) ** 1.1
    p /= p.sum()
    src = rng.choice(n, m, p=p)
    dst = rng.integers(0, n, m)
    chain = np.arange(1, n)
    src = np.concatenate([src, rng.choice(np.arange(0, 8), n - 1)])
    dst = np.concatenate([dst, chain])
    return _dedup(src, dst, rng)


def _dedup(src, dst, rng):
    keep = src != dst
    pairs = np.unique(np.stack([src[keep], dst[keep]], axis=1), axis=0)
    w = rng.integers(1, 10, len(pairs))
    return pairs[:, 0].astype(np.int64), pairs[:, 1].astype(np.int64), w.astype(np.int64)
