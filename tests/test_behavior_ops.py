"""Semantic invariants for the behavioral-analytics family
(queries/behavior.py) — the properties the DuckDB differential can't
express: pure-Python recomputes of the cohort matrix, Markov chain,
Kaplan-Meier curve, A/B panel and sessionization, plus the structural
pins (row-stochastic rows, monotone survival, exact segment-count
conservation)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pytest

from flink_tornadovm_artifact_spark.queries.behavior import (
    CONV_VALUE_MIN,
    PATH_STEPS,
    PATH_TOPK,
    SESSION_GAP_S,
    cohort_retention_weekly,
    experiment_ab_ztest,
    markov_event_transitions,
    rfm_segment_panel,
    session_path_topk,
    survival_km_purchase,
)
from flink_tornadovm_artifact_spark.tables import load

from .conftest import SF_SMOKE, stamp_batch


@pytest.fixture(scope="module")
def events(spark):
    rows = (
        load(spark, SF_SMOKE, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .collect()
    )
    # naive-epoch seconds, matching the NTZ timestampdiff floor
    return [
        (
            r.event_id,
            int(r.ts.replace(tzinfo=None).timestamp()),
            r.user_id,
            r.event_type,
            r.value,
        )
        for r in rows
    ]


def test_cohort_retention_matches_python(spark, events):
    act = {(u, (s // 86400) // 7) for _, s, u, _, _ in events}
    first = {}
    for u, w in act:
        first[u] = min(first.get(u, w), w)
    sizes = Counter(first.values())
    matrix = Counter((first[u], w - first[u]) for u, w in act)
    got = {
        (r.cohort_week, r.week_offset): (r.n_active, r.n_cohort, r.retention)
        for r in cohort_retention_weekly(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(matrix)
    for (c, o), (na, nc, ret) in got.items():
        assert na == matrix[(c, o)]
        assert nc == sizes[c]
        assert ret == pytest.approx(matrix[(c, o)] / sizes[c])
        if o == 0:  # every user is active in their own first week
            assert na == nc and ret == 1.0


def test_markov_transitions_row_stochastic_and_exact(spark, events):
    by_user = defaultdict(list)
    for eid, s, u, et, _ in events:
        by_user[u].append((s, eid, et))
    trans = Counter()
    for seq in by_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            trans[(a, b)] += 1
    rows = markov_event_transitions(spark, SF_SMOKE).collect()
    assert {(r.from_type, r.to_type): r.n_trans for r in rows} == dict(trans)
    assert sum(r.n_trans for r in rows) == len(events) - len(by_user)
    mass = defaultdict(float)
    for r in rows:
        assert r.p_trans == pytest.approx(r.n_trans / r.n_from)
        mass[r.from_type] += r.p_trans
    for ft, m in mass.items():
        assert m == pytest.approx(1.0), ft


def _km_python(durations):
    """durations: list of (dur_min, observed)."""
    n = len(durations)
    grid = sorted({d for d, _ in durations})
    out, s, seen = {}, 1.0, 0
    here = Counter(d for d, _ in durations)
    deaths = Counter(d for d, o in durations if o)
    for t in grid:
        at_risk = n - seen
        seen += here[t]
        if deaths[t] == 0:
            continue
        s *= (at_risk - deaths[t]) / at_risk
        out[t] = (deaths[t], at_risk, s)
    return out


def test_kaplan_meier_matches_python(spark, events):
    per_user = defaultdict(list)
    for eid, s, u, et, _ in events:
        per_user[u].append((s, et))
    durs = []
    for seq in per_user.values():
        s0 = min(s for s, _ in seq)
        sl = max(s for s, _ in seq)
        sp = min((s for s, et in seq if et == "purchase"), default=None)
        end = sp if sp is not None else sl
        durs.append(((end - s0) // 60, int(sp is not None)))
    expect = _km_python(durs)
    rows = survival_km_purchase(spark, SF_SMOKE).collect()
    assert {r.dur_min for r in rows} == set(expect)
    prev = 1.0
    for r in sorted(rows, key=lambda r: r.dur_min):
        d, n_risk, s = expect[r.dur_min]
        assert (r.n_events, r.n_at_risk) == (d, n_risk)
        assert r.km_survival == pytest.approx(s, abs=1e-9)
        assert r.km_survival <= prev + 1e-12  # monotone non-increasing
        prev = r.km_survival
    # non-vacuity: the curve actually drops (purchases exist)
    assert prev < 1.0


def test_ab_ztest_matches_python(spark, events):
    conv = defaultdict(int)
    for _, _, u, et, v in events:
        if et == "purchase" and v >= CONV_VALUE_MIN:
            conv[u] = 1
        conv.setdefault(u, 0)
    arms = defaultdict(lambda: [0, 0])
    for u, c in conv.items():
        a = hashlib.md5(str(u).encode()).hexdigest()[0] < "8"
        arm = arms["A" if a else "B"]
        arm[0] += 1
        arm[1] += c
    row = experiment_ab_ztest(spark, SF_SMOKE).collect()[0]
    assert (row.n_a, row.conv_a) == tuple(arms["A"])
    assert (row.n_b, row.conv_b) == tuple(arms["B"])
    assert row.n_a + row.n_b == len(conv)
    pa, pb = arms["A"][1] / arms["A"][0], arms["B"][1] / arms["B"][0]
    pp = (arms["A"][1] + arms["B"][1]) / (arms["A"][0] + arms["B"][0])
    z = (pa - pb) / math.sqrt(
        pp * (1 - pp) * (1 / arms["A"][0] + 1 / arms["B"][0])
    )
    assert row.rate_a == pytest.approx(pa)
    assert row.rate_b == pytest.approx(pb)
    assert row.z_score == pytest.approx(z, abs=1e-9)


def test_session_paths_match_python(spark, events):
    by_user = defaultdict(list)
    for eid, s, u, et, _ in events:
        by_user[u].append((s, eid, et))
    paths, lens = Counter(), defaultdict(list)
    for seq in by_user.values():
        seq.sort()
        sessions, cur, last = [], [], None
        for s, _, et in seq:
            if last is not None and s - last > SESSION_GAP_S:
                sessions.append(cur)
                cur = []
            cur.append(et)
            last = s
        sessions.append(cur)
        for sess in sessions:
            p = ">".join(sess[:PATH_STEPS])
            paths[p] += 1
            lens[p].append(len(sess))
    rows = session_path_topk(spark, SF_SMOKE).collect()
    assert len(rows) == min(PATH_TOPK, len(paths))
    expect_top = sorted(paths.items(), key=lambda kv: (-kv[1], kv[0]))
    for r, (p, n) in zip(rows, expect_top):
        assert (r.path, r.n_sessions) == (p, n)
        assert r.avg_sess_len == pytest.approx(sum(lens[p]) / len(lens[p]))
        assert len(r.path.split(">")) <= PATH_STEPS


def test_rfm_segments_conserve_and_match_numpy(spark):
    import numpy as np

    orders = (
        load(spark, SF_SMOKE, "orders")
        .select("o_custkey", "o_orderdate", "o_totalprice")
        .collect()
    )
    per = defaultdict(lambda: [0, 0, 0])
    for r in orders:
        d = int(r.o_orderdate.replace(tzinfo=None).timestamp()) // 86400
        e = per[r.o_custkey]
        e[0] = max(e[0], d)
        e[1] += 1
        e[2] += round(r.o_totalprice * 100)
    dmax = max(e[0] for e in per.values())
    rec = np.array([dmax - e[0] for e in per.values()])
    freq = np.array([e[1] for e in per.values()])
    mon = np.array([e[2] for e in per.values()])

    def score(v, q, lo_good):
        s = 1 + (v > q[0]) + (v > q[1]) + (v > q[2])
        return 5 - s if lo_good else s

    rq, fq, mq = (
        np.percentile(x, [25, 50, 75], method="linear")
        for x in (rec, freq, mon)
    )
    segs = Counter(
        f"R{score(r_, rq, True)}F{score(f_, fq, False)}M{score(m_, mq, False)}"
        for r_, f_, m_ in zip(rec, freq, mon)
    )
    rows = rfm_segment_panel(spark, SF_SMOKE).collect()
    assert sum(r.n_customers for r in rows) == len(per)
    assert {r.segment: r.n_customers for r in rows} == dict(segs)
    for r in rows:
        assert set(r.segment) <= set("RFM1234") and len(r.segment) == 6


def test_markov_stationary_matches_numpy_eig(spark, events):
    """The driver-side power iteration must land on the true dominant
    left eigenvector of the renormalized transition matrix (numpy eig —
    an independent algorithm), and the panel's empirical share must be
    the exact transition-target share."""
    import numpy as np

    from flink_tornadovm_artifact_spark.queries.behavior import (
        markov_stationary_panel,
    )

    by_user = defaultdict(list)
    for eid, s, u, et, _ in events:
        by_user[u].append((s, eid, et))
    trans = Counter()
    for seq in by_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            trans[(a, b)] += 1
    sources = {a for a, _ in trans}
    kept = {k: v for k, v in trans.items() if k[1] in sources}
    states = sorted({a for a, _ in kept})
    idx = {s: i for i, s in enumerate(states)}
    P = np.zeros((len(states), len(states)))
    for (a, b), n in kept.items():
        P[idx[a], idx[b]] = n
    P /= P.sum(axis=1, keepdims=True)
    vals, vecs = np.linalg.eig(P.T)
    v = np.real(vecs[:, np.argmax(np.real(vals))])
    v = v / v.sum()
    total = sum(kept.values())
    emp = Counter()
    for (_, b), n in kept.items():
        emp[b] += n
    rows = markov_stationary_panel(spark, SF_SMOKE).collect()
    assert {r.event_type for r in rows} == set(states)
    for r in rows:
        assert r.stationary_p == pytest.approx(v[idx[r.event_type]], abs=1e-9)
        assert r.empirical_share == pytest.approx(emp[r.event_type] / total)
        assert r.abs_gap == pytest.approx(
            abs(r.stationary_p - r.empirical_share), abs=1e-12
        )
    assert sum(r.stationary_p for r in rows) == pytest.approx(1.0)


def test_scd2_intervals_chain_and_compose(spark):
    """Per user: versions are numbered 1..k, intervals chain
    (valid_to == next valid_from), exactly one current row, and the
    version table composes with the as-of semantics — a probe at any
    version's valid_from resolves to that version's value."""
    from flink_tornadovm_artifact_spark.queries.behavior import (
        scd2_dimension_build,
    )

    rows = scd2_dimension_build(spark, SF_SMOKE).collect()
    assert rows, "signup events exist at the smoke SF"
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    for u, vs in by_user.items():
        vs.sort(key=lambda r: r.version_n)
        assert [r.version_n for r in vs] == list(range(1, len(vs) + 1))
        assert sum(r.is_current for r in vs) == 1 and vs[-1].is_current
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to == b.valid_from
            assert not a.is_current
        assert vs[-1].valid_to is None


def test_anomaly_mad_matches_python(spark, events):
    import statistics

    from flink_tornadovm_artifact_spark.queries.behavior import (
        MAD_K,
        anomaly_mad_events,
    )

    vals = defaultdict(list)
    for _, _, _, et, v in events:
        vals[et].append(v)
    rows = anomaly_mad_events(spark, SF_SMOKE).collect()
    assert {r.event_type for r in rows} == set(vals)
    for r in rows:
        xs = vals[r.event_type]
        med = statistics.median(xs)
        mad = statistics.median(abs(x - med) for x in xs)
        n_out = sum(abs(x - med) > MAD_K * mad for x in xs)
        assert r.med_v == pytest.approx(med, abs=1e-9)
        assert r.mad_v == pytest.approx(mad, abs=1e-9)
        assert (r.n, r.n_outliers) == (len(xs), n_out)


def test_cms_heavy_hitters_guarantees(spark):
    """Count-min is one-sided (estimate >= exact for every heavy
    hitter), the estimate error respects e/w * N with the standard
    delta at depth 4 on this fixture (deterministic — exact recompute,
    not a probabilistic bound), and the phi cut is a strict subset of
    the vocabulary at the smoke SF."""
    from flink_tornadovm_artifact_spark.queries.llm import (
        CMS_PHI,
        CMS_WIDTH,
        sketch_cms_heavy_hitters,
    )
    from flink_tornadovm_artifact_spark.tables import load

    docs = load(spark, SF_SMOKE, "documents").select("text").collect()
    exact = Counter(t for r in docs for t in r.text.split(" "))
    total = sum(exact.values())
    heavy = {t: c for t, c in exact.items() if c >= CMS_PHI * total}
    rows = sketch_cms_heavy_hitters(spark, SF_SMOKE).collect()
    assert {r.t for r in rows} == set(heavy)
    assert len(rows) < len(exact), "phi cut must be a strict subset"
    for r in rows:
        assert r.n_exact == heavy[r.t]
        assert r.n_cms >= r.n_exact, "count-min is one-sided"
        assert r.overestimate == r.n_cms - r.n_exact
        assert r.overestimate <= math.e / CMS_WIDTH * total * 3


def test_quantile_sketch_error_bounded_and_mergeable(spark):
    """The decile estimate must sit within one bin width of the exact
    percentile (the equi-width histogram's epsilon guarantee), and the
    registers must merge by addition: building registers per source
    and summing them equals the single-pass build (the cross-shard
    algebra the sketch exists for)."""
    from pyspark.sql import functions as F

    from flink_tornadovm_artifact_spark.queries.llm import (
        QSK_BINS,
        sketch_quantile_doc_length,
    )
    from flink_tornadovm_artifact_spark.tables import load

    rows = sketch_quantile_doc_length(spark, SF_SMOKE).collect()
    assert [r.q for r in rows] == pytest.approx(
        [i / 10 for i in range(1, 10)]
    )
    for r in rows:
        assert r.abs_err <= r.bin_width + 1e-9
        assert r.abs_err == pytest.approx(abs(r.est - r.exact), abs=1e-12)
    # merge algebra: per-source register builds sum to the global build
    docs = load(spark, SF_SMOKE, "documents")
    lo, hi = docs.agg(F.min("n_chars"), F.max("n_chars")).collect()[0]
    wdt = (hi - lo) / QSK_BINS
    binned = docs.select(
        "source",
        F.least(
            F.floor((F.col("n_chars") - F.lit(float(lo))) / F.lit(wdt)),
            F.lit(QSK_BINS - 1),
        ).alias("bin"),
    )
    per_source = {
        (r.source, r.bin): r.cnt
        for r in binned.groupBy("source", "bin").count()
        .withColumnRenamed("count", "cnt").collect()
    }
    merged = Counter()
    for (_, b), c in per_source.items():
        merged[b] += c
    single = {
        r.bin: r.cnt
        for r in binned.groupBy("bin").count()
        .withColumnRenamed("count", "cnt").collect()
    }
    assert dict(merged) == single


def test_market_basket_rules_match_python(spark):
    """Rules recomputed from a pure-Python basket build; lift symmetry
    (lift(A→B) == lift(B→A)) and pair-count conservation pinned."""
    from flink_tornadovm_artifact_spark.queries.behavior import (
        market_basket_rules,
    )

    li = load(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    pt = {
        r.p_partkey: r.p_type
        for r in load(spark, SF_SMOKE, "part").collect()
    }
    baskets = defaultdict(set)
    for r in li:
        baskets[r.l_orderkey].add(pt[r.l_partkey])
    n_b = len(baskets)
    item = Counter()
    pair = Counter()
    for its in baskets.values():
        for i in its:
            item[i] += 1
        for i in its:
            for j in its:
                if i < j:
                    pair[(i, j)] += 1
    rows = market_basket_rules(spark, SF_SMOKE).collect()
    got = {(r.antecedent, r.consequent): r for r in rows}
    assert len(got) == 2 * len(pair)
    lifts = {}
    for (i, j), n in pair.items():
        for a, b in ((i, j), (j, i)):
            r = got[(a, b)]
            assert (r.n_pair, r.n_ante, r.n_cons) == (n, item[a], item[b])
            assert r.support == pytest.approx(n / n_b)
            assert r.confidence == pytest.approx(n / item[a])
            assert r.lift == pytest.approx(
                (n / item[a]) / (item[b] / n_b)
            )
            lifts[(a, b)] = r.lift
    for (i, j) in pair:
        assert lifts[(i, j)] == pytest.approx(lifts[(j, i)])


def test_cuped_panel_matches_numpy(spark, events):
    """θ, effects, z's and the variance reduction recomputed with
    numpy; CUPED must not flip the effect direction on this fixture
    and the variance reduction must be in [0, 1) (θ chosen by pooled
    OLS can only shrink variance)."""
    import numpy as np

    from flink_tornadovm_artifact_spark.queries.behavior import (
        CUPED_SPLIT_DAY,
        experiment_cuped_panel,
    )

    per = defaultdict(lambda: [0, 0])
    for _, s, u, et, _ in events:
        d = s // 86400
        if d < CUPED_SPLIT_DAY:
            per[u][0] += 1
        elif et == "purchase":
            per[u][1] += 1
        per.setdefault(u, per[u])
    users = sorted(per)
    x = np.array([per[u][0] for u in users], dtype=float)
    y = np.array([per[u][1] for u in users], dtype=float)
    a = np.array(
        [hashlib.md5(str(u).encode()).hexdigest()[0] < "8" for u in users]
    )
    var_x, var_y = x.var(), y.var()
    cov = ((x * y).mean()) - x.mean() * y.mean()
    theta = cov / var_x
    diff_raw = y[a].mean() - y[~a].mean()
    diff_cuped = diff_raw - theta * (x[a].mean() - x[~a].mean())
    var_adj = var_y - 2 * theta * cov + theta * theta * var_x
    row = experiment_cuped_panel(spark, SF_SMOKE).collect()[0]
    assert (row.n_a, row.n_b) == (int(a.sum()), int((~a).sum()))
    assert row.theta == pytest.approx(theta, abs=1e-9)
    assert row.diff_raw == pytest.approx(diff_raw, abs=1e-9)
    assert row.diff_cuped == pytest.approx(diff_cuped, abs=1e-9)
    assert row.var_y == pytest.approx(var_y, abs=1e-9)
    assert row.var_y_adj == pytest.approx(var_adj, abs=1e-9)
    assert 0.0 <= row.var_reduction < 1.0
    na, nb = a.sum(), (~a).sum()
    assert row.z_raw == pytest.approx(
        diff_raw / math.sqrt(var_y / na + var_y / nb), abs=1e-9
    )
    assert row.z_cuped == pytest.approx(
        diff_cuped / math.sqrt(var_adj / na + var_adj / nb), abs=1e-9
    )


def test_session_path_stream_matches_python(spark, tmp_path):
    """The streaming session-window twin, fed the events fixture in
    event-time order across three micro-batch files, must converge to
    the Python recompute under the session_window rule (merge iff the
    next event is STRICTLY within the gap of the latest — microsecond
    exact, unlike the batch query's floored-seconds rule). Session
    windows only support APPEND output: a row is emitted once, when
    the watermark passes the session close, so the store must hold
    exactly the CLOSED sessions — each value-exact against the
    recompute — and every provably-closed session must have been
    emitted (the in-event-time-order feed makes 0-delay safe: nothing
    is ever late)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from flink_tornadovm_artifact_spark.queries.behavior import (
        PATH_STEPS,
        session_path_stream,
    )
    from flink_tornadovm_artifact_spark.streaming.core import (
        ExternalQueryableState,
    )

    rows = (
        load(spark, SF_SMOKE, "events")
        .select("ts", "user_id", "event_id", "event_type")
        .orderBy("ts", "event_id")
        .collect()
    )
    # python recompute under the session_window rule (strict gap,
    # microsecond timestamps)
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    expect = {}
    for u, seq in by_user.items():
        seq.sort(key=lambda r: (r.ts, r.event_id))
        cur, latest = [], None
        sessions = []
        for r in seq:
            if latest is not None and (
                (r.ts - latest).total_seconds() >= 3600.0
            ):
                sessions.append(cur)
                cur = []
            cur.append(r)
            latest = r.ts
        sessions.append(cur)
        for sess in sessions:
            key = (u, sess[0].ts)
            expect[key] = (
                len(sess),
                ">".join(r.event_type for r in sess[:PATH_STEPS]),
            )
    # event-time-ordered three-file feed
    src = tmp_path / "sess_stream"
    src.mkdir()
    third = len(rows) // 3
    chunks = (rows[:third], rows[third : 2 * third], rows[2 * third :])
    for i, part in enumerate(chunks):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(
                        [r.ts for r in part], pa.timestamp("us")
                    ),
                    "user_id": pa.array(
                        [r.user_id for r in part], pa.int64()
                    ),
                    "event_id": pa.array(
                        [r.event_id for r in part], pa.int64()
                    ),
                    "event_type": pa.array(
                        [r.event_type for r in part], pa.string()
                    ),
                }
            ),
            str(src / f"b{i}.parquet"),
        )
        stamp_batch(src / f"b{i}.parquet", i)
    stream = (
        spark.readStream.schema(
            "ts timestamp, user_id long, event_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    store = ExternalQueryableState("__ckey", str(tmp_path / "sess_store"))
    card = session_path_stream(stream, "0 seconds").withColumn(
        "__ckey",
        F.concat_ws("|", F.col("user_id"), F.col("sess_start")),
    )
    q = (
        card.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .foreachBatch(store.on_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.user_id, r.sess_start.replace(tzinfo=None)): (
            r.sess_len,
            r.path,
        )
        for r in store.snapshot_df(spark).drop("__ckey").collect()
    }
    # every emitted (closed) session is value-exact vs the recompute
    assert got, "stream emitted no closed sessions"
    for k, v in got.items():
        assert expect.get(k) == v, k
    # completeness: every session provably closed under the final
    # watermark (last event + gap strictly before the max event time)
    # must have been emitted
    max_ts = max(r.ts for r in rows)
    last_by_key = {}
    for u, seq in by_user.items():
        cur_start, latest = None, None
        for r in seq:
            if latest is not None and (
                (r.ts - latest).total_seconds() >= 3600.0
            ):
                cur_start = None
            if cur_start is None:
                cur_start = r.ts
            last_by_key[(u, cur_start)] = r.ts
            latest = r.ts
    provably_closed = {
        k for k, last in last_by_key.items()
        if (max_ts - last).total_seconds() > 3600.0
    }
    missing = provably_closed - set(got)
    assert not missing, sorted(missing)[:5]
    # non-vacuity: multi-event sessions exist among the emitted set
    assert any(n > 1 for n, _ in got.values())


def test_chi2_panel_matches_python(spark):
    from flink_tornadovm_artifact_spark.queries.behavior import (
        orders_independence_chi2,
    )

    orders = load(spark, SF_SMOKE, "orders").select(
        "o_orderdate", "o_orderpriority"
    ).collect()
    obs = Counter()
    for r in orders:
        d = int(r.o_orderdate.replace(tzinfo=None).timestamp()) // 86400
        obs[((d + 4) % 7, r.o_orderpriority)] += 1
    rows_m = Counter()
    cols_m = Counter()
    for (dw, pr), n in obs.items():
        rows_m[dw] += n
        cols_m[pr] += n
    n_tot = sum(obs.values())
    chi2 = sum(
        (n - rows_m[dw] * cols_m[pr] / n_tot) ** 2
        / (rows_m[dw] * cols_m[pr] / n_tot)
        for (dw, pr), n in obs.items()
    )
    row = orders_independence_chi2(spark, SF_SMOKE).collect()[0]
    assert row.chi2 == pytest.approx(chi2, abs=1e-8)
    assert row.dof == (len(rows_m) - 1) * (len(cols_m) - 1)
    assert row.n_cells == len(obs) and row.n_tot == n_tot
    assert row.cramers_v == pytest.approx(
        math.sqrt(chi2 / (n_tot * (min(len(rows_m), len(cols_m)) - 1))),
        abs=1e-9,
    )


def test_good_turing_identities(spark):
    from flink_tornadovm_artifact_spark.queries.llm import (
        lm_good_turing_counts,
    )

    docs = load(spark, SF_SMOKE, "documents").select("text").collect()
    types = Counter(t for r in docs for t in r.text.split(" "))
    coc = Counter(types.values())
    n_tokens = sum(types.values())
    rows = lm_good_turing_counts(spark, SF_SMOKE).collect()
    assert {r.r: r.n_r for r in rows} == dict(coc)
    assert sum(r.p_class for r in rows) == pytest.approx(1.0)
    for r in rows:
        if (r.r + 1) in coc:
            assert r.r_star == pytest.approx(
                (r.r + 1) * coc[r.r + 1] / coc[r.r]
            )
        else:
            assert r.r_star is None
        assert r.p_class == pytest.approx(r.r * r.n_r / n_tokens)


def test_weighted_sample_matches_python(spark):
    """Efraimidis-Spirakis keys recomputed exactly in Python (md5
    uniform, u^(1/w)); the returned top-K must be the true top-K and
    the draw must be biased toward quality: the mean weight of the
    sample strictly exceeds the corpus mean weight."""
    from flink_tornadovm_artifact_spark.queries.llm import (
        WS_MIN_W,
        WS_TOPK,
        _STOPWORDS,
        sample_weighted_quality,
    )

    docs = load(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    ).collect()
    keys = {}
    weights = {}
    for r in docs:
        toks = r.text.split(" ")
        alpha = sum(1 for c in r.text if c.isalpha()) / len(r.text)
        stop = sum(1 for t in toks if t in _STOPWORDS) / len(toks)
        w = max(0.5 * alpha + 0.5 * stop, WS_MIN_W)
        u = (
            int(
                hashlib.md5(f"{r.doc_id}#ws".encode()).hexdigest()[:8], 16
            )
            + 0.5
        ) / 4294967296.0
        weights[r.doc_id] = w
        keys[r.doc_id] = u ** (1.0 / w)
    expect = sorted(keys.items(), key=lambda kv: (-kv[1], kv[0]))[:WS_TOPK]
    rows = sample_weighted_quality(spark, SF_SMOKE).collect()
    assert [(r.doc_id) for r in rows] == [d for d, _ in expect]
    for r in rows:
        assert r.sample_key == pytest.approx(keys[r.doc_id], abs=1e-12)
        assert r.w == pytest.approx(weights[r.doc_id], abs=1e-12)
    sample_mean_w = sum(weights[r.doc_id] for r in rows) / len(rows)
    corpus_mean_w = sum(weights.values()) / len(weights)
    assert sample_mean_w > corpus_mean_w


def test_funnel_lag_percentiles_match_python(spark, events):
    import numpy as np

    from flink_tornadovm_artifact_spark.queries.behavior import (
        funnel_lag_percentiles,
    )
    from flink_tornadovm_artifact_spark.queries.temporal_q import (
        FUNNEL_STEPS,
    )

    per = defaultdict(lambda: defaultdict(list))
    for _, s, u, et, _ in events:
        per[u][et].append(s)
    lags = {f"{FUNNEL_STEPS[0]}->{FUNNEL_STEPS[1]}": [],
            f"{FUNNEL_STEPS[1]}->{FUNNEL_STEPS[2]}": []}
    for u, d in per.items():
        t1 = min(d.get(FUNNEL_STEPS[0], []), default=None)
        if t1 is None:
            continue
        t2 = min((s for s in d.get(FUNNEL_STEPS[1], []) if s > t1),
                 default=None)
        if t2 is None:
            continue
        lags[f"{FUNNEL_STEPS[0]}->{FUNNEL_STEPS[1]}"].append(
            (t2 - t1) // 60
        )
        t3 = min((s for s in d.get(FUNNEL_STEPS[2], []) if s > t2),
                 default=None)
        if t3 is None:
            continue
        lags[f"{FUNNEL_STEPS[1]}->{FUNNEL_STEPS[2]}"].append(
            (t3 - t2) // 60
        )
    rows = {r.step_pair: r for r in
            funnel_lag_percentiles(spark, SF_SMOKE).collect()}
    assert set(rows) == {k for k, v in lags.items() if v}
    for pair, vals in lags.items():
        if not vals:
            continue
        r = rows[pair]
        assert r.n_users == len(vals)
        p25, p50, p75 = np.percentile(vals, [25, 50, 75], method="linear")
        assert r.p25_min == pytest.approx(p25, abs=1e-9)
        assert r.p50_min == pytest.approx(p50, abs=1e-9)
        assert r.p75_min == pytest.approx(p75, abs=1e-9)
        assert r.p25_min <= r.p50_min <= r.p75_min


def test_revenue_concentration_matches_numpy(spark):
    import numpy as np

    from flink_tornadovm_artifact_spark.queries.behavior import (
        revenue_concentration_panel,
    )

    orders = load(spark, SF_SMOKE, "orders").select(
        "o_custkey", "o_totalprice"
    ).collect()
    per = defaultdict(int)
    for r in orders:
        per[r.o_custkey] += round(r.o_totalprice * 100)
    m = np.array(sorted(per.values()))
    t80, t90, t99 = np.percentile(m, [80, 90, 99], method="linear")
    row = revenue_concentration_panel(spark, SF_SMOKE).collect()[0]
    assert row.n_customers == len(per)
    assert row.total_revenue == pytest.approx(m.sum() / 100.0)
    assert row.p80_cents == pytest.approx(t80, abs=1e-6)
    assert row.p90_cents == pytest.approx(t90, abs=1e-6)
    assert row.p99_cents == pytest.approx(t99, abs=1e-6)
    assert row.share_above_p80 == pytest.approx(
        m[m > t80].sum() / m.sum(), abs=1e-9
    )
    assert row.share_above_p90 == pytest.approx(
        m[m > t90].sum() / m.sum(), abs=1e-9
    )
    assert row.share_above_p99 == pytest.approx(
        m[m > t99].sum() / m.sum(), abs=1e-9
    )
    # concentration ordering: smaller top-slices carry less revenue,
    # and the top-20% slice carries more than its population share
    assert row.share_above_p80 > row.share_above_p90 > row.share_above_p99
    assert row.share_above_p80 > 0.2 - 1e-9


def test_autocorrelation_matches_numpy(spark, events):
    import numpy as np

    from flink_tornadovm_artifact_spark.queries.behavior import (
        AC_MAX_LAG,
        events_autocorrelation_panel,
    )

    hourly = defaultdict(Counter)
    for _, s, _, et, _ in events:
        hourly[et][s // 3600] += 1
    rows = events_autocorrelation_panel(spark, SF_SMOKE).collect()
    got = {(r.event_type, r.lag_h): r for r in rows}
    for et, cnts in hourly.items():
        h0, h1 = min(cnts), max(cnts)
        series = np.array([cnts.get(h, 0) for h in range(h0, h1 + 1)],
                          dtype=float)
        for k in range(1, AC_MAX_LAG + 1):
            x, y = series[:-k], series[k:]
            r = got[(et, k)]
            assert r.n_pairs == len(x)
            if x.std() > 0 and y.std() > 0:
                expect = float(np.corrcoef(x, y)[0, 1])
                assert r.autocorr == pytest.approx(expect, abs=1e-9)
            else:
                assert r.autocorr is None
    assert len(got) == len(hourly) * AC_MAX_LAG


def test_discount_elasticity_matches_numpy(spark):
    import numpy as np

    from flink_tornadovm_artifact_spark.queries.behavior import (
        lineitem_discount_elasticity,
    )

    li = load(spark, SF_SMOKE, "lineitem").select(
        "l_partkey", "l_discount", "l_quantity"
    ).collect()
    pt = {r.p_partkey: r.p_type
          for r in load(spark, SF_SMOKE, "part").collect()}
    groups = defaultdict(lambda: ([], []))
    for r in li:
        g = groups[pt[r.l_partkey]]
        g[0].append(r.l_discount)
        g[1].append(r.l_quantity)
    rows = {r.p_type: r for r in
            lineitem_discount_elasticity(spark, SF_SMOKE).collect()}
    assert set(rows) == set(groups)
    for t, (xs, ys) in groups.items():
        x, y = np.array(xs), np.array(ys)
        slope, intercept = np.polyfit(x, y, 1)
        r = rows[t]
        assert r.n_lines == len(xs)
        assert r.slope == pytest.approx(slope, abs=1e-6)
        assert r.intercept == pytest.approx(intercept, abs=1e-6)
        expect_r2 = float(np.corrcoef(x, y)[0, 1]) ** 2
        assert r.r2 == pytest.approx(expect_r2, abs=1e-9)


def test_dp_noisy_counts_mechanism(spark):
    """Noise recomputed exactly from the md5 inverse-CDF; the release
    must conserve the true counts, the noise must be symmetric-Laplace
    shaped (both signs occur across sources), and |noise| must respect
    the inverse-CDF bound for each source's u."""
    from flink_tornadovm_artifact_spark.queries.pipeline import (
        DP_EPSILON,
        dp_noisy_counts,
    )

    docs = load(spark, SF_SMOKE, "documents").select("source").collect()
    true = Counter(r.source for r in docs)
    rows = dp_noisy_counts(spark, SF_SMOKE).collect()
    assert {r.source: r.n_true for r in rows} == dict(true)
    signs = set()
    for r in rows:
        u = (
            int(hashlib.md5(f"{r.source}#dp".encode()).hexdigest()[:8], 16)
            + 0.5
        ) / 4294967296.0
        c = u - 0.5
        noise = -(1.0 / DP_EPSILON) * math.copysign(1.0, c) * math.log(
            1.0 - 2.0 * abs(c)
        )
        assert r.rand_u == pytest.approx(u, abs=1e-15)
        assert r.noise == pytest.approx(noise, abs=1e-9)
        assert r.n_noisy == pytest.approx(r.n_true + noise, abs=1e-9)
        assert r.epsilon == DP_EPSILON
        signs.add(noise > 0)
    assert signs == {True, False}, "both noise signs occur across sources"


def test_assortativity_matches_python(spark):
    from flink_tornadovm_artifact_spark.queries.gelly import (
        graph_assortativity,
    )

    orders = load(spark, SF_SMOKE, "orders").select(
        "o_custkey", "o_orderkey"
    ).collect()
    edges = {
        (min(r.o_custkey % 997, r.o_orderkey % 997),
         max(r.o_custkey % 997, r.o_orderkey % 997))
        for r in orders
        if r.o_custkey % 997 != r.o_orderkey % 997
    }
    deg = Counter()
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    half = [(deg[u], deg[v]) for u, v in edges] + [
        (deg[v], deg[u]) for u, v in edges
    ]
    m = len(half)
    sx = sum(x for x, _ in half)
    sy = sum(y for _, y in half)
    sxy = sum(x * y for x, y in half)
    sxx = sum(x * x for x, _ in half)
    syy = sum(y * y for _, y in half)
    r_expect = (m * sxy - sx * sy) / math.sqrt(
        (m * sxx - sx * sx) * (m * syy - sy * sy)
    )
    row = graph_assortativity(spark, SF_SMOKE).collect()[0]
    assert row.n_half_edges == m
    assert row.mean_neighbor_degree == pytest.approx(sy / m)
    assert row.assortativity == pytest.approx(r_expect, abs=1e-9)
    assert -1.0 <= row.assortativity <= 1.0


def test_concurrent_sessions_match_python(spark, events):
    from flink_tornadovm_artifact_spark.queries.behavior import (
        SESSION_GAP_S,
        concurrent_sessions_timeline,
    )

    by_user = defaultdict(list)
    for eid, s, u, et, _ in events:
        by_user[u].append((s, eid))
    deltas = Counter()
    n_sessions = 0
    for seq in by_user.values():
        seq.sort()
        cur, last = [], None
        spans = []
        for s, _ in seq:
            if last is not None and s - last > SESSION_GAP_S:
                spans.append((cur[0], cur[-1]))
                cur = []
            cur.append(s)
            last = s
        spans.append((cur[0], cur[-1]))
        n_sessions += len(spans)
        for a, b in spans:
            deltas[a // 3600] += 1
            deltas[b // 3600 + 1] -= 1
    timeline = {}
    run = 0
    for h in sorted(deltas):
        run += deltas[h]
        if run > 0:
            timeline[h] = run
    rows = concurrent_sessions_timeline(spark, SF_SMOKE).collect()
    assert {r.h: r.n_concurrent for r in rows} == timeline
    assert max(timeline.values()) >= 1


def test_shipping_delay_matches_numpy(spark):
    import numpy as np

    from flink_tornadovm_artifact_spark.queries.behavior import (
        shipping_delay_panel,
    )

    li = load(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_shipdate"
    ).collect()
    o = {
        r.o_orderkey: (r.o_orderpriority, r.o_orderdate)
        for r in load(spark, SF_SMOKE, "orders").collect()
    }
    groups = defaultdict(list)
    for r in li:
        prio, od = o[r.l_orderkey]
        d = (
            int(r.l_shipdate.replace(tzinfo=None).timestamp()) // 86400
            - int(od.replace(tzinfo=None).timestamp()) // 86400
        )
        groups[prio].append(d)
    rows = {r.o_orderpriority: r
            for r in shipping_delay_panel(spark, SF_SMOKE).collect()}
    assert set(rows) == set(groups)
    for prio, vals in groups.items():
        r = rows[prio]
        v = np.array(vals)
        assert r.n_lines == len(vals)
        assert (r.min_d, r.max_d) == (v.min(), v.max())
        p25, p50, p75 = np.percentile(v, [25, 50, 75], method="linear")
        assert r.p25_d == pytest.approx(p25, abs=1e-9)
        assert r.p50_d == pytest.approx(p50, abs=1e-9)
        assert r.p75_d == pytest.approx(p75, abs=1e-9)


def test_burstiness_matches_python(spark):
    from flink_tornadovm_artifact_spark.queries.llm import (
        text_burstiness_panel,
    )

    docs = load(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    ).collect()
    per_doc = defaultdict(Counter)
    for r in docs:
        for t in r.text.split(" "):
            per_doc[t][r.doc_id] += 1
    n_docs = len(docs)
    rows = text_burstiness_panel(spark, SF_SMOKE).collect()
    assert {r.t for r in rows} == set(per_doc)
    for r in rows:
        cnts = per_doc[r.t]
        cf = sum(cnts.values())
        assert (r.cf, r.df) == (cf, len(cnts))
        assert r.burstiness == pytest.approx(cf / len(cnts))
        assert r.burstiness >= 1.0
        mean = cf / n_docs
        ex2 = sum(c * c for c in cnts.values()) / n_docs
        assert r.fano_factor == pytest.approx(
            (ex2 - mean * mean) / mean, abs=1e-9
        )
        assert r.fano_factor >= 0.0


def test_cdc_merge_matches_python(spark, events):
    from flink_tornadovm_artifact_spark.queries.behavior import (
        CUPED_SPLIT_DAY,
        cdc_merge_upsert,
    )

    base, up, last_any = {}, {}, {}
    for eid, s, u, et, v in sorted(events, key=lambda e: (e[1], e[0])):
        d = s // 86400
        if et == "signup" and d < CUPED_SPLIT_DAY:
            base[u] = v
        if d >= CUPED_SPLIT_DAY:
            last_any[u] = et
            if et == "signup":
                up[u] = v
    ops = Counter()
    final = {}
    for u in set(base) | set(up) | set(last_any):
        is_del = last_any.get(u) == "error"
        if is_del:
            ops["delete" if u in base else "noop"] += 1
            continue
        if u in base and u in up:
            ops["update"] += 1
            final[u] = up[u]
        elif u in up:
            ops["insert"] += 1
            final[u] = up[u]
        else:
            ops["unchanged"] += 1
            final[u] = base[u]
    row = cdc_merge_upsert(spark, SF_SMOKE).collect()[0]
    assert row.n_inserts == ops["insert"]
    assert row.n_updates == ops["update"]
    assert row.n_unchanged == ops["unchanged"]
    assert row.n_deletes == ops["delete"]
    assert row.n_noops == ops["noop"]
    assert row.n_final == len(final)
    assert row.checksum_v == pytest.approx(sum(final.values()), abs=1e-6)
    # merge accounting identity: survivors = base - deletes - ... all
    # covered by the exact dict compare above; pin non-vacuity
    assert row.n_final > 0


def test_ks_drift_matches_python(spark):
    from flink_tornadovm_artifact_spark.queries.llm import (
        text_ks_length_drift,
    )

    docs = load(spark, SF_SMOKE, "documents").select(
        "source", "n_chars"
    ).collect()
    a = sorted(r.n_chars for r in docs if int(r.source[3:]) < 10)
    b = sorted(r.n_chars for r in docs if int(r.source[3:]) >= 10)
    grid = sorted({r.n_chars for r in docs})
    import bisect

    best, best_l = -1.0, None
    for l in grid:
        fa = bisect.bisect_right(a, l) / len(a)
        fb = bisect.bisect_right(b, l) / len(b)
        gap = abs(fa - fb)
        if gap > best + 1e-15:
            best, best_l = gap, l
    row = text_ks_length_drift(spark, SF_SMOKE).collect()[0]
    assert (row.na, row.nb) == (len(a), len(b))
    assert row.ks_stat == pytest.approx(best, abs=1e-12)
    assert row.ks_at_length == best_l
    assert row.ks_scaled == pytest.approx(
        best * math.sqrt(len(a) * len(b) / (len(a) + len(b))), abs=1e-9
    )
    assert 0.0 <= row.ks_stat <= 1.0


def test_peak_detection_matches_python(spark, events):
    from flink_tornadovm_artifact_spark.queries.behavior import (
        events_peak_detection,
    )

    hourly = defaultdict(Counter)
    for _, s, _, et, _ in events:
        hourly[et][s // 3600] += 1
    rows = {r.event_type: r
            for r in events_peak_detection(spark, SF_SMOKE).collect()}
    assert set(rows) == set(hourly)
    for et, cnts in hourly.items():
        h0, h1 = min(cnts), max(cnts)
        series = {h: cnts.get(h, 0) for h in range(h0, h1 + 1)}
        n = len(series)
        mean = sum(series.values()) / n
        std = math.sqrt(
            sum(c * c for c in series.values()) / n - mean * mean
        )
        peak_h = min(series, key=lambda h: (-series[h], h))
        r = rows[et]
        assert r.n_hours == n
        assert r.mean_c == pytest.approx(mean)
        assert r.std_c == pytest.approx(std, abs=1e-9)
        assert (r.peak_h, r.peak_c) == (peak_h, series[peak_h])
        assert r.peak_z == pytest.approx(
            (series[peak_h] - mean) / std, abs=1e-9
        )
        assert r.n_above_3sigma == sum(
            (c - mean) / std > 3.0 for c in series.values()
        )


def test_supplier_hhi_matches_python(spark):
    from flink_tornadovm_artifact_spark.queries.behavior import (
        supplier_hhi_panel,
    )

    li = load(spark, SF_SMOKE, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    ).collect()
    pt = {r.p_partkey: r.p_type
          for r in load(spark, SF_SMOKE, "part").collect()}
    per = defaultdict(lambda: defaultdict(float))
    for r in li:
        per[pt[r.l_partkey]][r.l_suppkey] += r.l_quantity
    rows = {r.p_type: r for r in
            supplier_hhi_panel(spark, SF_SMOKE).collect()}
    assert set(rows) == set(per)
    for t, supp in per.items():
        tot = sum(supp.values())
        hhi = sum(q * q for q in supp.values()) / (tot * tot)
        r = rows[t]
        assert r.n_suppliers == len(supp)
        assert r.total_qty == pytest.approx(tot)
        assert r.hhi == pytest.approx(hhi, abs=1e-9)
        # HHI bounds: 1/n (even split) <= hhi <= 1 (monopoly)
        assert 1.0 / len(supp) - 1e-12 <= r.hhi <= 1.0


def _ordered_event_feed(spark, tmp_path, name):
    """The shared streaming-twin harness: the events fixture ordered by
    (ts, event_id), split into three parquet micro-batch files, read
    back with maxFilesPerTrigger=1 — per-user event-time order holds
    because the global order does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = (
        load(spark, SF_SMOKE, "events")
        .select("ts", "user_id", "event_id", "event_type")
        .orderBy("ts", "event_id")
        .collect()
    )
    src = tmp_path / name
    src.mkdir()
    third = len(rows) // 3
    for i, part in enumerate(
        (rows[:third], rows[third : 2 * third], rows[2 * third :])
    ):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array([r.ts for r in part], pa.timestamp("us")),
                    "user_id": pa.array([r.user_id for r in part], pa.int64()),
                    "event_id": pa.array(
                        [r.event_id for r in part], pa.int64()
                    ),
                    "event_type": pa.array(
                        [r.event_type for r in part], pa.string()
                    ),
                }
            ),
            str(src / f"b{i}.parquet"),
        )
        stamp_batch(src / f"b{i}.parquet", i)
    stream = (
        spark.readStream.schema(
            "ts timestamp, user_id long, event_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    return rows, stream


def _drain(stream_df, ckpt):
    """Run an append-mode stream to completion, collecting every emitted
    row via foreachBatch (driver-side accumulator)."""
    out = []

    def sink(batch_df, _epoch):
        out.extend(batch_df.collect())

    q = (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .foreachBatch(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return out


def test_markov_stream_matches_batch(spark, tmp_path):
    """Summing the streaming twin's per-batch transition increments must
    reproduce the batch lead()-window transition matrix EXACTLY — the
    chaining state carries each user's last event across the three
    micro-batches, so transitions that straddle a batch boundary are
    the load-bearing case (asserted non-vacuous)."""
    from flink_tornadovm_artifact_spark.queries.behavior import (
        markov_transitions_stream,
    )

    rows, stream = _ordered_event_feed(spark, tmp_path, "mkv_feed")
    got = Counter()
    emitted = _drain(
        markov_transitions_stream(stream), tmp_path / "mkv_ckpt"
    )
    per_user_batches = defaultdict(int)
    for r in emitted:
        got[(r.from_type, r.to_type)] += r.n_trans
    # batch expectation
    expect = Counter()
    for r in markov_event_transitions(spark, SF_SMOKE).collect():
        expect[(r.from_type, r.to_type)] = r.n_trans
    assert got == expect
    # non-vacuity: some user's events span more than one micro-batch,
    # so cross-batch chaining was actually exercised
    third = len(rows) // 3
    for i, part in enumerate(
        (rows[:third], rows[third : 2 * third], rows[2 * third :])
    ):
        for r in part:
            per_user_batches[r.user_id] |= 1 << i
    assert any(b not in (1, 2, 4) for b in per_user_batches.values())


def test_cohort_stream_matches_batch(spark, tmp_path):
    """Folding the streaming twin's (cohort_week, week_offset)
    increments reproduces the batch retention matrix: n_active per
    cell, n_cohort from the offset-0 row, every (user, week) credited
    exactly once."""
    from flink_tornadovm_artifact_spark.queries.behavior import (
        cohort_retention_stream,
    )

    _, stream = _ordered_event_feed(spark, tmp_path, "coh_feed")
    emitted = _drain(
        cohort_retention_stream(stream), tmp_path / "coh_ckpt"
    )
    # exactly-once per (user, week): no duplicate credits
    seen_pairs = [(r.user_id, r.cohort_week + r.week_offset) for r in emitted]
    assert len(seen_pairs) == len(set(seen_pairs))
    n_active = Counter((r.cohort_week, r.week_offset) for r in emitted)
    n_cohort = {
        c: n for (c, off), n in n_active.items() if off == 0
    }
    batch = {
        (r.cohort_week, r.week_offset): (r.n_active, r.n_cohort)
        for r in cohort_retention_weekly(spark, SF_SMOKE).collect()
    }
    assert set(n_active) == set(batch)
    for cell, n in n_active.items():
        exp_active, exp_cohort = batch[cell]
        assert n == exp_active, cell
        assert n_cohort[cell[0]] == exp_cohort, cell


def test_funnel_stream_matches_batch(spark, tmp_path):
    """Counting the streaming state machine's first-hit rows per step
    reproduces the batch funnel's n_users column; each (user, step)
    appears at most once and steps are strictly ordered per user."""
    from flink_tornadovm_artifact_spark.queries.temporal_q import (
        funnel_conversion_events,
        funnel_conversion_stream,
    )

    _, stream = _ordered_event_feed(spark, tmp_path, "fun_feed")
    emitted = _drain(
        funnel_conversion_stream(stream), tmp_path / "fun_ckpt"
    )
    pairs = [(r.user_id, r.step) for r in emitted]
    assert len(pairs) == len(set(pairs))
    by_user = defaultdict(dict)
    for r in emitted:
        by_user[r.user_id][r.step] = r.step_ts
    for u, steps in by_user.items():
        # prefix-closed and strictly increasing timestamps
        assert set(steps) in ({1}, {1, 2}, {1, 2, 3}), u
        ts = [steps[s] for s in sorted(steps)]
        assert ts == sorted(ts) and len(set(ts)) == len(ts), u
    got = Counter(s for _, s in pairs)
    batch = {
        r.step: r.n_users
        for r in funnel_conversion_events(spark, SF_SMOKE).collect()
    }
    assert {s: got.get(s, 0) for s in (1, 2, 3)} == batch


def test_markov_stream_recovers_from_checkpoint(spark, tmp_path):
    """Kill-and-restart durability for the keyed chaining state: run the
    stream over batch file 1 only, stop it, add files 2-3, restart from
    the SAME checkpoint — the restarted query must resume from the
    stored per-user last events (no re-emission of file-1 increments,
    no lost boundary transitions), and the union of both runs' emissions
    must still fold to the exact batch matrix."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_tornadovm_artifact_spark.queries.behavior import (
        markov_transitions_stream,
    )

    rows = (
        load(spark, SF_SMOKE, "events")
        .select("ts", "user_id", "event_id", "event_type")
        .orderBy("ts", "event_id")
        .collect()
    )
    src = tmp_path / "rec_feed"
    src.mkdir()
    third = len(rows) // 3
    chunks = (rows[:third], rows[third : 2 * third], rows[2 * third :])

    def write_chunk(i):
        part = chunks[i]
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array([r.ts for r in part], pa.timestamp("us")),
                    "user_id": pa.array([r.user_id for r in part], pa.int64()),
                    "event_id": pa.array(
                        [r.event_id for r in part], pa.int64()
                    ),
                    "event_type": pa.array(
                        [r.event_type for r in part], pa.string()
                    ),
                }
            ),
            str(src / f"b{i}.parquet"),
        )
        stamp_batch(src / f"b{i}.parquet", i)

    def run_once():
        stream = (
            spark.readStream.schema(
                "ts timestamp, user_id long, event_id long, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return _drain(
            markov_transitions_stream(stream), tmp_path / "rec_ckpt"
        )

    write_chunk(0)
    first_run = run_once()  # processes file 1, then stops
    write_chunk(1)
    write_chunk(2)
    second_run = run_once()  # restarts from the checkpoint

    got = Counter()
    for r in first_run + second_run:
        got[(r.from_type, r.to_type)] += r.n_trans
    expect = Counter()
    for r in markov_event_transitions(spark, SF_SMOKE).collect():
        expect[(r.from_type, r.to_type)] = r.n_trans
    assert got == expect
    # the restart resumed, not replayed: run 2 emitted only files 2-3
    n_first = sum(r.n_trans for r in first_run)
    n_second = sum(r.n_trans for r in second_run)
    assert n_first > 0 and n_second > 0
    assert n_first + n_second == sum(expect.values())


def test_cdc_upsert_stream_matches_chunk_replay(spark, tmp_path):
    """The CDC changelog twin must emit EXACTLY the per-batch net view
    changes: a Python replay of the same three chunks (latest signup
    value, tombstoned while the last event is an error) predicts every
    (user, batch) emission — op classification, value, and the final
    visible view — and silence for every unchanged view."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_tornadovm_artifact_spark.queries.behavior import (
        cdc_upsert_stream,
    )

    rows = (
        load(spark, SF_SMOKE, "events")
        .select("ts", "user_id", "event_id", "event_type", "value")
        .orderBy("ts", "event_id")
        .collect()
    )
    src = tmp_path / "cdc_feed"
    src.mkdir()
    third = len(rows) // 3
    chunks = (rows[:third], rows[third : 2 * third], rows[2 * third :])
    for i, part in enumerate(chunks):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array([r.ts for r in part], pa.timestamp("us")),
                    "user_id": pa.array([r.user_id for r in part], pa.int64()),
                    "event_id": pa.array(
                        [r.event_id for r in part], pa.int64()
                    ),
                    "event_type": pa.array(
                        [r.event_type for r in part], pa.string()
                    ),
                    "value": pa.array(
                        [r.value for r in part], pa.float64()
                    ),
                }
            ),
            str(src / f"b{i}.parquet"),
        )
        stamp_batch(src / f"b{i}.parquet", i)
    stream = (
        spark.readStream.schema(
            "ts timestamp, user_id long, event_id long, "
            "event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    # chunk replay: predicted changelog
    st = {}  # user -> (has, v, dead)
    predicted = []  # (batch, user, op, v)
    for b, part in enumerate(chunks):
        touched = defaultdict(lambda: None)
        before = {}
        for r in part:
            has, v, dead = st.get(r.user_id, (False, 0.0, False))
            if r.user_id not in before:
                before[r.user_id] = (
                    None if (dead or not has) else v
                )
            if r.event_type == "signup":
                has, v = True, float(r.value)
            dead = r.event_type == "error"
            st[r.user_id] = (has, v, dead)
            touched[r.user_id] = True
        for u in touched:
            has, v, dead = st[u]
            vis = None if (dead or not has) else v
            if vis != before[u]:
                op = (
                    "delete"
                    if vis is None
                    else ("insert" if before[u] is None else "update")
                )
                predicted.append((u, op, vis))
    emitted = _drain(cdc_upsert_stream(stream), tmp_path / "cdc_ckpt")
    got = [(r.user_id, r.op, r.v) for r in emitted]
    assert sorted(got, key=str) == sorted(predicted, key=str)
    # changelog legality per user: insert first, never two inserts
    # without a delete between, updates/deletes only while visible
    per_user = defaultdict(list)
    for u, op, _ in sorted(
        zip(
            (r.user_id for r in emitted),
            (r.op for r in emitted),
            (r.ts for r in emitted),
        ),
        key=lambda x: (x[0], x[2]),
    ):
        per_user[u].append(op)
    for u, ops in per_user.items():
        visible = False
        for op in ops:
            if op == "insert":
                assert not visible, (u, ops)
                visible = True
            elif op == "update":
                assert visible, (u, ops)
            else:
                assert visible, (u, ops)
                visible = False
    # non-vacuity: all three op kinds occur on this fixture
    kinds = {op for _, op, _ in got}
    assert kinds == {"insert", "update", "delete"}, kinds


def test_markov_twin_state_inspectable_offline(spark, tmp_path):
    """State-processor-API leg for the round-9 twins: after the stream
    stops, the Markov twin's keyed chaining state must be readable
    OFFLINE from the checkpoint via the statestore source
    (streaming/savepoint.py) and equal the Python recompute — each
    user's last (type, ts, event_id) under (ts, event_id) order."""
    from flink_tornadovm_artifact_spark.queries.behavior import (
        markov_transitions_stream,
    )
    from flink_tornadovm_artifact_spark.streaming.savepoint import (
        read_keyed_state,
    )

    rows, stream = _ordered_event_feed(spark, tmp_path, "mkvstate_feed")
    ckpt = tmp_path / "mkvstate_ckpt"
    _drain(markov_transitions_stream(stream), ckpt)
    # applyInPandasWithState stores wrap the user schema one level down
    # (value.groupState.<field>)
    state = {
        r.key_user_id: (
            r.value_groupState.last_type,
            r.value_groupState.last_ts_us,
            r.value_groupState.last_eid,
        )
        for r in read_keyed_state(spark, str(ckpt)).collect()
    }
    last = {}
    for r in sorted(rows, key=lambda r: (r.ts, r.event_id)):
        us = int(r.ts.replace(tzinfo=None).timestamp() * 1_000_000)
        last[r.user_id] = (r.event_type, us, r.event_id)
    assert state == last


def test_percentile_approx_flip_within_tolerance(spark):
    """The approx=True flip on the three percentile panels (round 9 —
    the dq_table_profile pattern) must agree with the exact panels
    within interpolation tolerance: approx_percentile returns a real
    data point while exact percentile interpolates, so on these
    integer-valued (minutes/days) and continuous (value) domains the
    divergence is bounded by one neighbor gap — pinned as a relative
    tolerance, with all non-percentile columns bit-identical."""
    from flink_tornadovm_artifact_spark.queries.behavior import (
        anomaly_mad_events,
        funnel_lag_percentiles,
        shipping_delay_panel,
    )

    for fn, key, pct_cols, other in (
        (
            funnel_lag_percentiles,
            "step_pair",
            ("p25_min", "p50_min", "p75_min"),
            ("n_users",),
        ),
        (
            shipping_delay_panel,
            "o_orderpriority",
            ("p25_d", "p50_d", "p75_d"),
            ("n_lines", "min_d", "max_d"),
        ),
        (
            anomaly_mad_events,
            "event_type",
            ("med_v", "mad_v"),
            ("n",),
        ),
    ):
        exact = {r[key]: r for r in fn(spark, SF_SMOKE).collect()}
        approx = {
            r[key]: r for r in fn(spark, SF_SMOKE, approx=True).collect()
        }
        assert set(exact) == set(approx), fn.__name__
        for k, e in exact.items():
            a = approx[k]
            for c in other:
                assert a[c] == e[c], (fn.__name__, k, c)
            for c in pct_cols:
                tol = max(1.0, 0.1 * abs(e[c]))
                assert abs(a[c] - e[c]) <= tol, (
                    fn.__name__,
                    k,
                    c,
                    a[c],
                    e[c],
                )


def test_markov_twin_runs_on_rocksdb_state_store(spark, tmp_path):
    """The 100 TB state-store provider is RocksDB (bounded executor
    memory, incremental checkpoints), not the default HDFS-backed
    in-memory map — pin that the twins' state schemas work under it
    and produce the identical transition matrix. Provider is set for
    the query's session at start and restored after."""
    from flink_tornadovm_artifact_spark.queries.behavior import (
        markov_transitions_stream,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        _, stream = _ordered_event_feed(spark, tmp_path, "rocks_feed")
        emitted = _drain(
            markov_transitions_stream(stream), tmp_path / "rocks_ckpt"
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    got = Counter()
    for r in emitted:
        got[(r.from_type, r.to_type)] += r.n_trans
    expect = Counter()
    for r in markov_event_transitions(spark, SF_SMOKE).collect():
        expect[(r.from_type, r.to_type)] = r.n_trans
    assert got == expect
    # the checkpoint really used RocksDB (sst/log layout under state/)
    import glob as _glob

    rocks_files = _glob.glob(
        str(tmp_path / "rocks_ckpt" / "state" / "**" / "*.zip"),
        recursive=True,
    ) + _glob.glob(
        str(tmp_path / "rocks_ckpt" / "state" / "**" / "*.changelog"),
        recursive=True,
    )
    assert rocks_files, "no RocksDB snapshot artifacts under the checkpoint"
