"""Property-based differential tests (hypothesis): engine operators vs
brute-force Python oracles on adversarial random inputs.

The reference has no property tests (SURVEY §5); these go beyond its
strategy to pin the invariants that are easiest to get subtly wrong:
bucketized interval-join coverage at exact ±bound boundaries, salted-agg
equivalence under heavy key skew, and arg-min/max tie-breaking.

Example counts are small (Spark round-trip per example ~0.5 s), but
hypothesis shrinks failures to minimal cases, which a fixed fixture
never does.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flink_tornadovm_artifact_spark.operators.scale import salted_agg

from .conftest import stamp_batch

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,  # deterministic across driver runs
)

_EPOCH = dt.datetime(2024, 1, 1)

# timestamps with microsecond jitter around ±300 s grid boundaries — the
# adversarial region for the q22 bucketization
_ts = st.integers(min_value=0, max_value=3 * 3600 * 1_000_000).map(
    lambda us: _EPOCH + dt.timedelta(microseconds=us)
)
_events = st.lists(
    st.tuples(st.integers(0, 5), _ts),  # (user_id, ts)
    min_size=0,
    max_size=40,
    unique=True,
)


@given(_events)
@settings(**SETTINGS)
def test_interval_join_grid_equals_bruteforce(spark, rows):
    data = [(i, u, t) for i, (u, t) in enumerate(rows)]
    bound_us = 300 * 1_000_000
    expected = {}
    for i, u, t in data:
        for j, v, s in data:
            if u == v and i < j and abs((t - s).total_seconds() * 1e6) <= bound_us:
                expected[u] = expected.get(u, 0) + 1

    if not data:
        return
    df = spark.createDataFrame(data, "event_id long, user_id long, ts timestamp")
    g = (F.unix_timestamp("ts") / 300).cast("bigint")
    ev = df.withColumn("g", g)
    a = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.explode(F.array(F.col("g") - 1, F.col("g"), F.col("g") + 1)).alias("g"),
    ).alias("a")
    b = ev.alias("b")
    pairs = a.join(b, ["user_id", "g"]).filter(
        (F.col("b.ts") >= F.col("a.ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 5 MINUTES"))
        & (F.col("a.event_id") < F.col("b.event_id"))
    )
    got = {
        r["user_id"]: r["n"]
        for r in pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == expected


@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(-1000, 1000)),
        min_size=1,
        max_size=60,
    )
)
@settings(**SETTINGS)
def test_salted_agg_equals_bruteforce(spark, rows):
    # key 0 is deliberately hot in many draws (range only 0..2)
    expected: dict[int, list[int]] = {}
    for k, v in rows:
        expected.setdefault(k, []).append(v)
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r["k"]: r
        for r in salted_agg(
            df, ["k"], {"s": ("sum", "v"), "n": ("count", "v"),
                        "lo": ("min", "v"), "hi": ("max", "v")},
            n_salts=4,
        ).collect()
    }
    assert set(got) == set(expected)
    for k, vs in expected.items():
        assert got[k]["s"] == sum(vs)
        assert got[k]["n"] == len(vs)
        assert got[k]["lo"] == min(vs)
        assert got[k]["hi"] == max(vs)


@given(
    st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 50), st.integers(0, 5)),
        min_size=1,
        max_size=50,
    )
)
@settings(**SETTINGS)
def test_grouped_maxby_tiebreak_matches_bruteforce(spark, rows):
    # (key, score, id): arg-max on score, ties broken by ascending id —
    # the pinned-determinism contract from SURVEY §7's risk register
    data = [(k, s, i) for i, (k, s, _) in enumerate(rows)]
    expected = {}
    for k, s, i in data:
        cur = expected.get(k)
        if cur is None or (s, -i) > (cur[0], -cur[1]):
            expected[k] = (s, i)
    df = spark.createDataFrame(data, "k long, score long, id long")
    from pyspark.sql import Window as W

    w = W.partitionBy("k").orderBy(F.desc("score"), F.asc("id"))
    got = {
        r["k"]: (r["score"], r["id"])
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == expected


@given(
    st.lists(st.integers(0, 30), max_size=40),
    st.lists(st.integers(0, 30), max_size=40),
)
@settings(**SETTINGS)
def test_set_ops_match_python_semantics(spark, xs, ys):
    if not xs or not ys:
        return
    a = spark.createDataFrame([(x,) for x in xs], "v long")
    b = spark.createDataFrame([(y,) for y in ys], "v long")
    assert {r["v"] for r in a.intersect(b).collect()} == set(xs) & set(ys)
    # exceptAll: multiset difference
    from collections import Counter

    diff = Counter(xs) - Counter(ys)
    got = Counter(r["v"] for r in a.exceptAll(b).collect())
    assert got == diff
    assert {r["v"] for r in a.union(b).distinct().collect()} == set(xs) | set(ys)


@given(
    st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=3, max_size=10),
        min_size=2,
        max_size=10,
    ),
    st.data(),
)
@settings(**SETTINGS)
def test_lsh_verified_dedup_matches_bruteforce(spark, word_lists, data):
    """Composed LSH→verify pipeline vs an independent Python
    reimplementation: expected = pairs sharing ≥1 minhash band AND with
    exact 3-shingle Jaccard ≥ 0.8. Near-dup pressure comes from appending
    mutated copies of the first doc."""
    import hashlib

    docs = [" ".join(ws) for ws in word_lists]
    # mutated near-copies of doc 0 to exercise the verify step
    base = word_lists[0]
    docs.append(" ".join(base + [data.draw(st.sampled_from("abcdefg"))]))
    docs.append(" ".join(base))

    def shingles(text):
        t = text.split(" ")
        return [" ".join(t[i : i + 3]) for i in range(len(t) - 2)]

    def bands(text):
        hs = [hashlib.md5(s.encode()).hexdigest() for s in shingles(text)]
        mh = [min(h[4 * j : 4 * j + 4] for h in hs) for j in range(8)]
        return {(b, mh[2 * b] + mh[2 * b + 1]) for b in range(4)}

    expected = set()
    for i, a in enumerate(docs):
        for j, b in enumerate(docs):
            if i < j and len(a.split(" ")) >= 3 and len(b.split(" ")) >= 3:
                if bands(a) & bands(b):
                    sa, sb = set(shingles(a)), set(shingles(b))
                    jac = len(sa & sb) / len(sa | sb)
                    if jac >= 0.8:
                        expected.add((i, j, round(jac, 6)))

    from flink_tornadovm_artifact_spark.queries.llm import dedup_lsh_verified

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b, round(r.jaccard, 6))
        for r in dedup_lsh_verified(spark, "", docs=df).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# Graph library vs plain-Python brute force on random small graphs
# (adversarial shapes hand tests miss: multi-edges, reversed duplicates,
# self-loops, disconnected vertices, degree ties in the orientation).
# ---------------------------------------------------------------------------
_edges_strategy = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)),
    min_size=1,
    max_size=60,
)


def _simple_undirected(edges):
    return {(min(a, b), max(a, b)) for a, b in edges if a != b}


@given(_edges_strategy)
@settings(**SETTINGS)
def test_triangles_match_bruteforce(spark, edges):
    from flink_tornadovm_artifact_spark.functions.graph import triangles

    und = _simple_undirected(edges)
    verts = sorted({v for e in und for v in e})
    want = sorted(
        (a, b, c)
        for i, a in enumerate(verts)
        for b in verts[i + 1 :]
        for c in verts
        if b < c
        and (a, b) in und
        and (a, c) in und
        and (b, c) in und
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(map(tuple, triangles(df).collect()))
    assert got == want


@given(_edges_strategy, st.integers(1, 3))
@settings(**SETTINGS)
def test_label_propagation_matches_simulation(spark, edges, iterations):
    """Synchronous LPA vs an independent dict-based simulation of the
    reference's UpdateVertexLabel rule (lexicographic (freq, label) max
    seeded with (1, own)) on the DIRECTED edge list as given."""
    from flink_tornadovm_artifact_spark.functions.graph import (
        label_propagation,
    )

    verts = sorted({v for e in edges for v in e})
    labels = {v: v for v in verts}
    for _ in range(iterations):
        counts: dict[int, dict[int, int]] = {}
        for s, d in edges:
            lab = labels[s]
            counts.setdefault(d, {}).setdefault(lab, 0)
            counts[d][lab] += 1
        new = {}
        for v in verts:
            # candidates = received labels at their counts, UNION the own
            # label at frequency 1; winner is the (freq, label) max
            entries = [(f, l) for l, f in counts.get(v, {}).items()]
            entries.append((1, labels[v]))
            new[v] = max(entries)[1]
        labels = new
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.vertex: r.label
        for r in label_propagation(df, iterations=iterations).collect()
    }
    assert got == labels


@given(_edges_strategy, st.integers(1, 3))
@settings(**SETTINGS)
def test_hits_matches_numpy_simulation(spark, edges, iterations):
    """HITS vs a NumPy re-implementation of the reference pipeline
    (hub ← prior auth, auth ← NEW hub, L2-normalize both)."""
    import numpy as np

    from flink_tornadovm_artifact_spark.functions.graph import hits

    verts = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    h = np.ones(n)
    a = np.ones(n)
    for _ in range(iterations):
        h_new = np.zeros(n)
        for s, d in edges:
            h_new[idx[s]] += a[idx[d]]
        a_new = np.zeros(n)
        for s, d in edges:
            a_new[idx[d]] += h_new[idx[s]]
        hn = np.sqrt((h_new**2).sum())
        an = np.sqrt((a_new**2).sum())
        h = h_new / hn if hn else h_new * np.nan
        a = a_new / an if an else a_new * np.nan
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.vertex: (r.hub, r.auth) for r in hits(df, iterations=iterations).collect()}
    for v in verts:
        gh, ga = got[v]
        wh, wa = h[idx[v]], a[idx[v]]
        if np.isnan(wh) or np.isnan(wa):
            continue  # degenerate all-zero norm (e.g. only self-loops)
        assert abs(gh - wh) < 1e-9 and abs(ga - wa) < 1e-9, (v, got[v], wh, wa)


@given(_edges_strategy, st.integers(1, 2))
@settings(**SETTINGS)
def test_community_detection_matches_simulation(spark, edges, iterations):
    """CommunityDetection vs a dict simulation of the reference's
    VertexLabelUpdater: summed-score argmax with lowest-label ties, max
    single-message re-score, delta/superstep attenuation on change,
    no-message vertices unchanged. Dyadic scores make float equality
    exact in both implementations."""
    from flink_tornadovm_artifact_spark.functions.graph import (
        community_detection,
    )

    und = _simple_undirected(edges)
    if not und:
        return  # no surviving simple edges: nothing to compare
    both = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    verts = sorted({v for e in und for v in e})
    state = {v: (v, 1.0) for v in verts}
    delta = 0.5
    for step in range(1, iterations + 1):
        summed: dict[int, dict[int, float]] = {}
        best: dict[int, dict[int, float]] = {}
        for s, d in both:
            lab, score = state[s]
            summed.setdefault(d, {}).setdefault(lab, 0.0)
            summed[d][lab] += score
            best.setdefault(d, {}).setdefault(lab, score)
            best[d][lab] = max(best[d][lab], score)
        new = {}
        for v in verts:
            if v not in summed:
                new[v] = state[v]
                continue
            # argmax by summed score, ties to LOWEST label
            win = max(summed[v].items(), key=lambda t: (t[1], -t[0]))[0]
            sc = best[v][win]
            if win != state[v][0]:
                sc -= delta / step
            new[v] = (win, sc)
        state = new
    df = spark.createDataFrame(list(und), "src long, dst long")
    got = {
        r.vertex: r.label
        for r in community_detection(df, iterations=iterations).collect()
    }
    assert got == {v: lab for v, (lab, _) in state.items()}


# random per-user event streams for the CEP looping family: types drawn
# from {a, b, x} so A-runs, breaks, and completions all occur
_cep_events = st.lists(
    st.tuples(
        st.integers(0, 3),          # user_id
        st.sampled_from("abx"),     # event type
    ),
    min_size=0,
    max_size=30,
)


def _brute_force_after_match(rows, strategy):
    """Reference simulation: per user in arrival order, track the
    trailing consecutive a-run; on b emit the suffixes the strategy
    keeps (match_len per surviving start)."""
    by_user: dict[int, list[int]] = {}
    out = []
    for eid, (u, typ) in enumerate(rows):
        run = by_user.setdefault(u, [])
        if typ == "a":
            run.append(eid)
        else:
            if typ == "b" and run:
                n = len(run)
                picks = (
                    range(n)
                    if strategy == "no_skip"
                    else [0]
                    if strategy == "skip_past_last_event"
                    else ([0] if n == 1 else [0, n - 1])
                )
                out.extend((u, eid, n - i) for i in picks)
            by_user[u] = []
    return sorted(out)


@given(_cep_events)
@settings(**SETTINGS)
def test_cep_after_match_matches_bruteforce(spark, tmp_path_factory, rows):
    """The islands-based batch skip-strategy family vs a direct NFA
    simulation, for all three strategies on one random stream."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_tornadovm_artifact_spark.queries.cep import cep_after_match

    d = tmp_path_factory.mktemp("cep_prop")
    # the registered query's pattern symbols are click/purchase (view =
    # the run-breaking other type)
    name = {"a": "click", "b": "purchase", "x": "view"}
    data = [
        (eid, u, _EPOCH + dt.timedelta(minutes=eid), name[typ])
        for eid, (u, typ) in enumerate(rows)
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in data], pa.int64()),
                "user_id": pa.array([r[1] for r in data], pa.int64()),
                "ts": pa.array([r[2] for r in data], pa.timestamp("us")),
                "event_type": pa.array([r[3] for r in data], pa.string()),
            }
        ),
        str(d / "events.parquet"),
    )
    for strategy in ("no_skip", "skip_past_last_event", "skip_to_last"):
        got = sorted(
            (r.user_id, r.b_event_id, r.match_len)
            for r in cep_after_match(
                spark, str(d), strategy
            ).collect()
        )
        want = _brute_force_after_match(rows, strategy)
        assert got == want, strategy


_doc_texts = st.lists(
    st.lists(
        st.sampled_from(["a", "bb", "ccc", "the", "x9"]),
        min_size=1,
        max_size=60,
    ).map(" ".join),
    min_size=1,
    max_size=6,
)

_chunk_counter = [0]


def _write_docs_dir(spark, tmp_path_factory, texts):
    import pyarrow as pa
    import pyarrow.parquet as pq

    _chunk_counter[0] += 1
    d = tmp_path_factory.mktemp(f"props{_chunk_counter[0]}")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * len(texts), pa.string()),
                "source": pa.array(["s"] * len(texts), pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        str(d / "documents.parquet"),
    )
    return str(d)


@given(_doc_texts)
@settings(**SETTINGS)
def test_chunk_windows_cover_and_reconstruct(spark, tmp_path_factory, texts):
    """Chunking invariants no single oracle row pins: dense chunk ids,
    every token position covered, stride-aligned starts, and each
    chunk's text reconstructs exactly from the token array."""
    from flink_tornadovm_artifact_spark.queries.llm import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        text_chunk_windows,
    )

    sf = _write_docs_dir(spark, tmp_path_factory, texts)
    rows = text_chunk_windows(spark, sf).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(range(len(texts)))
    for doc_id, text in enumerate(texts):
        toks = text.split(" ")
        n = len(toks)
        chunks = sorted(by_doc[doc_id], key=lambda r: r.chunk_idx)
        want_m = (n - 1) // CHUNK_STRIDE + 1
        assert [c.chunk_idx for c in chunks] == list(range(want_m))
        covered = set()
        for c in chunks:
            assert c.start_tok == c.chunk_idx * CHUNK_STRIDE
            assert c.chunk_len == min(CHUNK_SIZE, n - c.start_tok)
            assert c.chunk_text == " ".join(
                toks[c.start_tok : c.start_tok + c.chunk_len]
            )
            covered.update(range(c.start_tok, c.start_tok + c.chunk_len))
        assert covered == set(range(n))


@given(_doc_texts)
@settings(**SETTINGS)
def test_vocab_coverage_matches_counter(spark, tmp_path_factory, texts):
    """Vocabulary coverage vs a Python Counter: identical top-K order
    under the (freq desc, token asc) tie-break, exact cumulative
    fractions, dense ranks, final fraction 1.0 when the vocabulary fits
    inside the top-K."""
    from collections import Counter

    from flink_tornadovm_artifact_spark.queries.llm import (
        VOCAB_TOP_K,
        text_vocab_coverage,
    )

    sf = _write_docs_dir(spark, tmp_path_factory, texts)
    rows = sorted(
        text_vocab_coverage(spark, sf).collect(), key=lambda r: r.rank
    )
    counts = Counter(t for txt in texts for t in txt.split(" "))
    total = sum(counts.values())
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:VOCAB_TOP_K]
    assert [(r.token, r.freq) for r in rows] == want
    assert [r.rank for r in rows] == list(range(1, len(want) + 1))
    cum = 0
    for r, (_, f) in zip(rows, want):
        cum += f
        assert abs(r.cum_frac - cum / total) < 1e-12
    if len(counts) <= VOCAB_TOP_K:
        assert abs(rows[-1].cum_frac - 1.0) < 1e-12


# funnel events: few users, COARSE timestamp grid (seconds 0..6) so ties
# — including a click at exactly the first view's timestamp, the strict->
# boundary the batch query excludes — are generated often; split point
# chosen by hypothesis so state-carry across the batch boundary is
# explored too
_funnel_events = st.lists(
    st.tuples(
        st.integers(0, 2),  # user_id
        st.integers(0, 6),  # ts seconds (collision-rich)
        st.sampled_from(["view", "click", "purchase"]),
    ),
    min_size=1,
    max_size=16,
)


@given(_funnel_events, st.integers(0, 16))
@settings(**SETTINGS)
def test_funnel_stream_matches_batch_semantics_on_ties(
    spark, tmp_path_factory, rows, cut
):
    """The streaming funnel state machine vs the batch query's
    MIN-strictly-after-previous semantics on random tie-rich event
    streams fed as two micro-batches: first hits must agree exactly,
    including the boundary cases (a click AT the first view's timestamp
    does not qualify; the first strictly-later one does)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_tornadovm_artifact_spark.queries.temporal_q import (
        FUNNEL_STEPS,
        funnel_conversion_stream,
    )

    # event_id assigned in list order; feed ordered by (ts, event_id) —
    # the family's ordering contract
    data = sorted(
        (
            (u, _EPOCH + dt.timedelta(seconds=s), eid, et)
            for eid, (u, s, et) in enumerate(rows)
        ),
        key=lambda r: (r[1], r[2]),
    )
    # brute force: batch semantics (min ts per step strictly after the
    # previous step's first hit), independent of feed order
    expect = {}
    for u in {r[0] for r in data}:
        evs = [(ts, et) for (uu, ts, _eid, et) in data if uu == u]
        t1 = min((ts for ts, et in evs if et == FUNNEL_STEPS[0]), default=None)
        t2 = (
            min(
                (ts for ts, et in evs if et == FUNNEL_STEPS[1] and ts > t1),
                default=None,
            )
            if t1
            else None
        )
        t3 = (
            min(
                (ts for ts, et in evs if et == FUNNEL_STEPS[2] and ts > t2),
                default=None,
            )
            if t2
            else None
        )
        for step, t in ((1, t1), (2, t2), (3, t3)):
            if t is not None:
                expect[(u, step)] = t
    d = tmp_path_factory.mktemp("funnel_prop")
    cut = min(cut, len(data))
    parts = [p for p in (data[:cut], data[cut:]) if p]
    for i, part in enumerate(parts):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array([r[1] for r in part], pa.timestamp("us")),
                    "user_id": pa.array([r[0] for r in part], pa.int64()),
                    "event_id": pa.array([r[2] for r in part], pa.int64()),
                    "event_type": pa.array(
                        [r[3] for r in part], pa.string()
                    ),
                }
            ),
            str(d / f"b{i}.parquet"),
        )
        stamp_batch(d / f"b{i}.parquet", i)
    stream = (
        spark.readStream.schema(
            "ts timestamp, user_id long, event_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = []

    def sink(batch_df, _epoch):
        out.extend(batch_df.collect())

    q = (
        funnel_conversion_stream(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(d / "ckpt"))
        .foreachBatch(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r.user_id, r.step): r.step_ts for r in out}
    assert got == expect


@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # user_id
            st.integers(0, 5),  # ts seconds (collision-rich)
            st.sampled_from(["view", "click", "purchase", "error"]),
        ),
        min_size=2,
        max_size=16,
    ),
    st.integers(0, 16),
)
@settings(**SETTINGS)
def test_markov_stream_matches_lead_semantics_on_ties(
    spark, tmp_path_factory, rows, cut
):
    """The streaming Markov chaining state vs the batch lead() window's
    (ts, event_id) order on tie-rich streams split into two
    micro-batches: summed increments must equal the brute-force
    transition counts exactly — including chains that pass through a
    timestamp tie (broken by event_id) and across the batch boundary."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from collections import Counter, defaultdict

    from flink_tornadovm_artifact_spark.queries.behavior import (
        markov_transitions_stream,
    )

    data = sorted(
        (
            (u, _EPOCH + dt.timedelta(seconds=s), eid, et)
            for eid, (u, s, et) in enumerate(rows)
        ),
        key=lambda r: (r[1], r[2]),
    )
    by_user = defaultdict(list)
    for u, ts, eid, et in data:
        by_user[u].append((ts, eid, et))
    expect = Counter()
    for seq in by_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            expect[(a, b)] += 1
    d = tmp_path_factory.mktemp("mkv_prop")
    cut = min(cut, len(data))
    parts = [p for p in (data[:cut], data[cut:]) if p]
    for i, part in enumerate(parts):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array([r[1] for r in part], pa.timestamp("us")),
                    "user_id": pa.array([r[0] for r in part], pa.int64()),
                    "event_id": pa.array([r[2] for r in part], pa.int64()),
                    "event_type": pa.array(
                        [r[3] for r in part], pa.string()
                    ),
                }
            ),
            str(d / f"b{i}.parquet"),
        )
        stamp_batch(d / f"b{i}.parquet", i)
    stream = (
        spark.readStream.schema(
            "ts timestamp, user_id long, event_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = []

    def sink(batch_df, _epoch):
        out.extend(batch_df.collect())

    q = (
        markov_transitions_stream(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(d / "ckpt"))
        .foreachBatch(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = Counter()
    for r in out:
        got[(r.from_type, r.to_type)] += r.n_trans
    assert got == expect


@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),          # user_id
            st.integers(0, 28),         # ts DAYS (spans 5 weeks)
        ),
        min_size=1,
        max_size=20,
    ),
    st.integers(0, 20),
)
@settings(**SETTINGS)
def test_cohort_stream_matches_min_week_semantics(
    spark, tmp_path_factory, rows, cut
):
    """The streaming cohort twin vs the batch definition (cohort = MIN
    week, one credit per distinct (user, week)) on random two-batch
    feeds: increments must cover exactly the distinct activity matrix,
    each exactly once, with the cohort anchored at the user's true
    first week even when the same week repeats across both batches."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from collections import Counter

    from flink_tornadovm_artifact_spark.queries.behavior import (
        cohort_retention_stream,
    )

    data = sorted(
        (
            (u, _EPOCH + dt.timedelta(days=d), eid)
            for eid, (u, d) in enumerate(rows)
        ),
        key=lambda r: (r[1], r[2]),
    )
    # brute force: epoch-week per event (the twin floors epoch days / 7;
    # _EPOCH = 2024-01-01 = epoch day 19723)
    base_day = (_EPOCH - dt.datetime(1970, 1, 1)).days
    act = {(u, (base_day + (ts - _EPOCH).days) // 7) for u, ts, _ in data}
    first = {}
    for u, w in sorted(act):
        first.setdefault(u, w)
    expect = Counter()
    for u, w in act:
        expect[(first[u], w - first[u])] += 1
    d = tmp_path_factory.mktemp("cohort_prop")
    cut = min(cut, len(data))
    parts = [p for p in (data[:cut], data[cut:]) if p]
    for i, part in enumerate(parts):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array([r[1] for r in part], pa.timestamp("us")),
                    "user_id": pa.array([r[0] for r in part], pa.int64()),
                    "event_id": pa.array([r[2] for r in part], pa.int64()),
                }
            ),
            str(d / f"b{i}.parquet"),
        )
        stamp_batch(d / f"b{i}.parquet", i)
    stream = (
        spark.readStream.schema("ts timestamp, user_id long, event_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = []

    def sink(batch_df, _epoch):
        out.extend(batch_df.collect())

    q = (
        cohort_retention_stream(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(d / "ckpt"))
        .foreachBatch(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    pairs = [(r.user_id, r.cohort_week + r.week_offset) for r in out]
    assert len(pairs) == len(set(pairs))  # exactly-once per (user, week)
    got = Counter((r.cohort_week, r.week_offset) for r in out)
    assert got == expect


@given(
    st.lists(
        st.tuples(
            st.integers(0, 1),                      # user_id
            st.sampled_from(["signup", "error", "view"]),
            st.integers(0, 99),                     # value
        ),
        min_size=1,
        max_size=14,
    ),
    st.integers(0, 14),
)
@settings(**SETTINGS)
def test_cdc_changelog_matches_replay_including_undelete(
    spark, tmp_path_factory, rows, cut
):
    """Random signup/error/view interleavings over two micro-batches vs
    a Python replay of the changelog contract — including the UNDELETE
    transition (a signup after a tombstone re-inserts) and view-neutral
    churn (a signup while tombstoned emits nothing), which fixture data
    rarely exercises."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_tornadovm_artifact_spark.queries.behavior import (
        cdc_upsert_stream,
    )

    data = [
        (u, _EPOCH + dt.timedelta(seconds=eid), eid, et, float(v))
        for eid, (u, et, v) in enumerate(rows)
    ]
    d = tmp_path_factory.mktemp("cdc_prop")
    cut = min(cut, len(data))
    parts = [p for p in (data[:cut], data[cut:]) if p]
    # Python replay: per batch, per user, net visible-view change
    st_map = {}
    predicted = []
    for part in parts:
        before = {}
        for u, _ts, _eid, et, v in part:
            has, val, dead = st_map.get(u, (False, 0.0, False))
            if u not in before:
                before[u] = None if (dead or not has) else val
            if et == "signup":
                has, val = True, v
            dead = et == "error"
            st_map[u] = (has, val, dead)
        for u, prev in before.items():
            has, val, dead = st_map[u]
            vis = None if (dead or not has) else val
            if vis != prev:
                op = (
                    "delete"
                    if vis is None
                    else ("insert" if prev is None else "update")
                )
                predicted.append((u, op, vis))
    for i, part in enumerate(parts):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array([r[1] for r in part], pa.timestamp("us")),
                    "user_id": pa.array([r[0] for r in part], pa.int64()),
                    "event_id": pa.array([r[2] for r in part], pa.int64()),
                    "event_type": pa.array([r[3] for r in part], pa.string()),
                    "value": pa.array([r[4] for r in part], pa.float64()),
                }
            ),
            str(d / f"b{i}.parquet"),
        )
        stamp_batch(d / f"b{i}.parquet", i)
    stream = (
        spark.readStream.schema(
            "ts timestamp, user_id long, event_id long, "
            "event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = []

    def sink(batch_df, _epoch):
        out.extend(batch_df.collect())

    q = (
        cdc_upsert_stream(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(d / "ckpt"))
        .foreachBatch(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(((r.user_id, r.op, r.v) for r in out), key=str)
    assert got == sorted(predicted, key=str)
