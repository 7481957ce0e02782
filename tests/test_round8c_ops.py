"""Semantic invariants for the round-8 third-batch operators — the
properties the DuckDB differential can't express: Gopher rule counts
against a pure-Python recompute, n-gram novelty against set arithmetic,
Bradley-Terry against an independent numpy MM, ABTT residual identities
against the pinned eigen-structure, and the recall panel's cross-check
against dedup_lsh_verified."""

from __future__ import annotations

import math
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from flink_tornadovm_artifact_spark.queries.llm import (
    _STOPWORDS,
    _VERIFY_THRESHOLD,
    dedup_lsh_verified,
    dedup_recall_panel,
    embedding_abtt_residuals,
    embedding_principal_direction,
)
from flink_tornadovm_artifact_spark.queries.pipeline import (
    BT_MM_ITERS,
    GOPHER_DISTINCT_RATIO,
    GOPHER_MIN_STOPWORDS,
    GOPHER_WC_MIN,
    NOVELTY_NGRAM_NS,
    pref_bradley_terry,
    quality_gopher_rules,
    text_ngram_novelty,
)
from flink_tornadovm_artifact_spark.tables import load

from .conftest import SF_ORACLE, SF_SMOKE, stamp_batch


def _gopher_flags(text: str) -> dict[str, bool]:
    t = text.split(" ")
    n = len(t)
    mean_len = sum(len(x) for x in t) / n
    alpha = sum(1 for x in t if any(c.isalpha() for c in x)) / n
    stops = len({x for x in t if x in _STOPWORDS})
    dr = len(set(t)) / n
    return {
        "f_wc": n < GOPHER_WC_MIN or n > 100_000,
        "f_ml": mean_len < 3.0 or mean_len > 10.0,
        "f_al": alpha < 0.80,
        "f_st": stops < GOPHER_MIN_STOPWORDS,
        "f_rp": dr < GOPHER_DISTINCT_RATIO,
    }


def test_gopher_rules_match_python_recompute(spark):
    """Per-source fail counts must equal a pure-Python recompute of the
    five rules over the raw fixture, and the binding rules (wordcount,
    stopword, repetition) must each actually remove documents at the
    smoke SF — the panel is not a row of zeros."""
    docs = load(spark, SF_SMOKE, "documents").select("source", "text").collect()
    exp: dict[str, dict[str, int]] = defaultdict(
        lambda: defaultdict(int)
    )
    for r in docs:
        fl = _gopher_flags(r.text)
        exp[r.source]["n_docs"] += 1
        for k, v in fl.items():
            exp[r.source][k] += int(v)
        exp[r.source]["n_pass"] += int(not any(fl.values()))
    got = {r.source: r for r in quality_gopher_rules(spark, SF_SMOKE).collect()}
    assert set(got) == set(exp)
    tot_fail = {"f_wc": 0, "f_st": 0, "f_rp": 0}
    for src, e in exp.items():
        g = got[src]
        assert g.n_docs == e["n_docs"]
        assert g.fail_wordcount == e["f_wc"]
        assert g.fail_meanlen == e["f_ml"]
        assert g.fail_alpha == e["f_al"]
        assert g.fail_stopword == e["f_st"]
        assert g.fail_repeat == e["f_rp"]
        assert g.n_pass == e["n_pass"]
        assert g.pass_rate == pytest.approx(e["n_pass"] / e["n_docs"])
        for k in tot_fail:
            tot_fail[k] += e[k]
    assert all(v > 0 for v in tot_fail.values()), tot_fail


def test_ngram_novelty_matches_set_arithmetic(spark):
    """Novelty fractions must equal an exact Python set recompute of
    distinct n-gram types per split, for every (split, n) cell."""
    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    import hashlib

    def split_of(doc_id: int) -> str:
        h = int(hashlib.md5(f"{doc_id}#split".encode()).hexdigest()[:8], 16) % 100
        return "train" if h < 80 else ("val" if h < 90 else "test")

    types: dict[tuple[str, int], set[str]] = defaultdict(set)
    for r in docs:
        t = r.text.split(" ")
        sp = split_of(r.doc_id)
        for n in NOVELTY_NGRAM_NS:
            for i in range(len(t) - n + 1):
                types[(sp, n)].add(" ".join(t[i : i + n]))
    got = {
        (r.split, r.n): r for r in text_ngram_novelty(spark, SF_SMOKE).collect()
    }
    cells = [(sp, n) for sp in ("val", "test") for n in NOVELTY_NGRAM_NS]
    assert set(got) == set(cells)
    for sp, n in cells:
        ev, tr = types[(sp, n)], types[("train", n)]
        novel = len(ev - tr)
        g = got[(sp, n)]
        assert g.n_distinct == len(ev)
        assert g.n_novel == novel
        assert g.novelty_frac == pytest.approx(novel / len(ev))


def test_bradley_terry_matches_numpy_mm(spark):
    """Strengths must match an independent numpy MM implementation fed
    from the raw events (wins matrix rebuilt from scratch), strengths
    must sum to 1 and be positive, and the strength order must agree
    with the raw win-rate order on this near-balanced schedule."""
    import numpy as np

    ev = load(spark, SF_SMOKE, "events").select(
        "user_id", "event_type", "value"
    ).collect()
    acc: dict[tuple[int, str], list[float]] = defaultdict(list)
    for r in ev:
        acc[(r.user_id, r.event_type)].append(r.value)
    by_user: dict[int, dict[str, float]] = defaultdict(dict)
    for (u, t), vals in acc.items():
        by_user[u][t] = sum(vals) / len(vals)
    items = sorted({t for (_, t) in acc})
    idx = {t: i for i, t in enumerate(items)}
    T = len(items)
    w = np.zeros((T, T))
    for u, means in by_user.items():
        ts = sorted(means)
        for i, a in enumerate(ts):
            for b in ts[i + 1 :]:
                if means[a] > means[b]:
                    w[idx[a], idx[b]] += 1
                elif means[b] > means[a]:
                    w[idx[b], idx[a]] += 1
    n = w + w.T
    W = w.sum(axis=1)
    p = np.full(T, 1.0 / T)
    for _ in range(BT_MM_ITERS):
        denom = np.array(
            [
                sum(
                    n[i, j] / (p[i] + p[j])
                    for j in range(T)
                    if j != i and n[i, j] > 0
                )
                for i in range(T)
            ]
        )
        p = W / denom
        p = p / p.sum()
    got = sorted(pref_bradley_terry(spark, SF_SMOKE).collect(), key=lambda r: r.item)
    assert [r.item for r in got] == items
    assert sum(r.strength for r in got) == pytest.approx(1.0)
    for r in got:
        assert r.strength > 0
        i = idx[r.item]
        assert r.strength == pytest.approx(p[i], rel=1e-9)
        assert r.wins == int(W[i])
        assert r.games == int(n[i].sum())
    by_strength = sorted(got, key=lambda r: -r.strength)
    by_winrate = sorted(got, key=lambda r: -(r.wins / r.games))
    assert [r.item for r in by_strength] == [r.item for r in by_winrate]


def test_abtt_residuals_close_the_variance_identity(spark):
    """Pooled over all vectors, avg(proj²) must equal the Rayleigh
    lambda1 of the pinned power iterate (v'Cv with C the biased
    covariance — exact up to the iterate-vs-eigenvector gap, bounded
    by the cos≥0.999 pin), and pooled residual share must equal
    1 - lambda1/trace within the same tolerance. Per-label shares are
    in (0, 1)."""
    rows = embedding_abtt_residuals(spark, SF_SMOKE).collect()
    pd_rows = embedding_principal_direction(spark, SF_SMOKE).collect()
    lam1, var_share = pd_rows[0].lambda1, pd_rows[0].var_share
    n_tot = sum(r.n_vecs for r in rows)
    pooled_proj = sum(r.avg_proj_sq * r.n_vecs for r in rows) / n_tot
    pooled_sq = sum(r.avg_sq_norm * r.n_vecs for r in rows) / n_tot
    assert pooled_proj == pytest.approx(lam1, rel=5e-3)
    assert 1 - pooled_proj / pooled_sq == pytest.approx(
        1 - var_share, rel=5e-3
    )
    for r in rows:
        assert 0.0 < r.residual_share < 1.0
        assert r.avg_proj_sq < r.avg_sq_norm


def test_recall_panel_cross_checks_lsh_verified(spark):
    """n_truth_lsh IS the row count of dedup_lsh_verified (same
    generator, same threshold, same verify math); the panel's counting
    identities and ratio bounds must hold; and the rare-shingle
    generator must contribute candidates LSH alone did not (the panel
    measures something)."""
    for sf in (SF_SMOKE, SF_ORACLE):
        panel = dedup_recall_panel(spark, sf).collect()[0]
        n_verified = dedup_lsh_verified(spark, sf).count()
        assert panel.n_truth_lsh == n_verified
        assert panel.n_truth_lsh <= panel.n_truth
        assert panel.n_truth_lsh <= panel.n_cand_lsh
        assert panel.n_cand_union <= panel.n_cand_lsh + panel.n_cand_shingle
        assert panel.n_cand_union >= max(panel.n_cand_lsh, panel.n_cand_shingle)
        if panel.n_truth:
            assert 0.0 <= panel.recall_lsh <= 1.0
        if panel.n_cand_lsh:
            assert 0.0 <= panel.precision_lsh <= 1.0
        assert panel.n_cand_union > panel.n_cand_lsh


def test_bm25_matches_python_recompute(spark):
    """Top-k lists (ids, scores, ranks) must equal an independent
    pure-Python BM25 over the raw fixture for every probe query, and
    every query must return a full k-deep list with strictly
    rank-ordered scores (ties broken by doc_id)."""
    from flink_tornadovm_artifact_spark.queries.pipeline import (
        BM25_B,
        BM25_K1,
        BM25_QUERIES,
        BM25_TOPK,
        retrieval_bm25_topk,
    )

    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    toks = {r.doc_id: r.text.split(" ") for r in docs}
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n_docs
    terms = sorted({t for ts in BM25_QUERIES.values() for t in ts})
    df = {t: sum(1 for tk in toks.values() if t in tk) for t in terms}

    def score(qterms, doc):
        dl = len(toks[doc])
        s = 0.0
        for t in qterms:
            tf = toks[doc].count(t)
            if tf == 0:
                continue
            idf = math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf * (BM25_K1 + 1) / (
                tf + BM25_K1 * (1 - BM25_B + BM25_B * dl / avgdl)
            )
        return s

    got = defaultdict(list)
    for r in retrieval_bm25_topk(spark, SF_SMOKE).collect():
        got[r.query_id].append(r)
    assert set(got) == set(BM25_QUERIES)
    for qid, qterms in BM25_QUERIES.items():
        rows = sorted(got[qid], key=lambda r: r.rk)
        assert len(rows) == BM25_TOPK
        scored = sorted(
            ((score(qterms, d), d) for d in toks if score(qterms, d) > 0),
            key=lambda x: (-x[0], x[1]),
        )
        for rk, r in enumerate(rows, 1):
            assert r.rk == rk
            assert r.doc_id == scored[rk - 1][1]
            assert r.score == pytest.approx(scored[rk - 1][0], rel=1e-9)
        assert all(
            rows[i].score >= rows[i + 1].score for i in range(len(rows) - 1)
        )


def test_curriculum_phases_partition_the_corpus(spark):
    """The four phases must partition every document exactly once, be
    length-ordered (max_tok of phase p <= min_tok of phase p+1 across
    sources), and roughly quarter the corpus (exact quartile
    thresholds: no phase may exceed half of it)."""
    from flink_tornadovm_artifact_spark.queries.pipeline import (
        curriculum_length_phases,
    )

    rows = curriculum_length_phases(spark, SF_SMOKE).collect()
    total_docs = load(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_docs for r in rows) == total_docs
    by_phase = defaultdict(list)
    for r in rows:
        assert r.phase in (1, 2, 3, 4)
        by_phase[r.phase].append(r)
    phases = sorted(by_phase)
    for lo, hi in zip(phases, phases[1:]):
        assert max(r.max_tok for r in by_phase[lo]) <= min(
            r.min_tok for r in by_phase[hi]
        )
    for p in phases:
        assert sum(r.n_docs for r in by_phase[p]) <= total_docs / 2


def test_hll_union_matrix_sketch_identities(spark):
    """Merged-register union estimates must respect sketch algebra:
    est_union >= max of the per-source estimates (max-merge can only
    grow registers), the union error must stay inside the HLL
    standard-error envelope (1.04/sqrt(512) ~ 4.6%; 6 sigma bound),
    exact counts must satisfy inclusion-exclusion, and every source
    pair must be present exactly once (i < j)."""
    from flink_tornadovm_artifact_spark.queries.llm import (
        HLL_BUCKETS,
        sketch_hll_union_matrix,
    )

    rows = sketch_hll_union_matrix(spark, SF_ORACLE).collect()
    srcs = {r.source for r in load(spark, SF_ORACLE, "documents").select("source").distinct().collect()}
    n = len(srcs)
    assert len(rows) == n * (n - 1) // 2
    se = 1.04 / math.sqrt(HLL_BUCKETS)
    for r in rows:
        assert r.source_a < r.source_b
        assert r.exact_intersect > 0
        assert r.exact_union >= max(r.exact_intersect, 1)
        assert abs(r.err_union) <= 6 * se, (r.source_a, r.source_b, r.err_union)
        assert r.est_union == pytest.approx(
            r.exact_union, rel=6 * se
        )
        # inclusion-exclusion on the estimates by construction
        assert r.est_intersect <= r.est_union + 1e-9


def test_gopher_stream_matches_batch_panel(spark, tmp_path):
    """The streaming Gopher twin, fed the documents fixture split
    across two micro-batch files, must equal the batch panel exactly —
    every aggregate is additive, so cumulative streaming state ==
    one-shot batch (the sketch_hll_registers_stream discipline)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_tornadovm_artifact_spark.queries.pipeline import (
        quality_gopher_rules,
        quality_gopher_rules_stream,
    )
    from flink_tornadovm_artifact_spark.streaming.core import (
        ExternalQueryableState,
    )

    batch = {
        r.source: r.asDict()
        for r in quality_gopher_rules(spark, SF_SMOKE).collect()
    }
    collected = load(spark, SF_SMOKE, "documents").orderBy("doc_id").collect()
    src = tmp_path / "gopher_stream"
    src.mkdir()
    half = len(collected) // 2
    for i, (name, part) in enumerate(
        (("b0", collected[:half]), ("b1", collected[half:]))
    ):
        pq.write_table(
            pa.table(
                {
                    "source": pa.array([r.source for r in part], pa.string()),
                    "text": pa.array([r.text for r in part], pa.string()),
                }
            ),
            str(src / f"{name}.parquet"),
        )
        stamp_batch(src / f"{name}.parquet", i)
    stream = (
        spark.readStream.schema("source string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    store = ExternalQueryableState("__ckey", str(tmp_path / "gopher_store"))
    card = quality_gopher_rules_stream(stream).withColumn(
        "__ckey", F.col("source")
    )
    q = (
        card.writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "gopher_ckpt"))
        .foreachBatch(store.on_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        r.source: r.asDict()
        for r in store.snapshot_df(spark).drop("__ckey").collect()
    }
    assert set(streamed) == set(batch)
    for s, b in batch.items():
        g = streamed[s]
        for k, v in b.items():
            if isinstance(v, float):
                assert g[k] == pytest.approx(v), (s, k)
            else:
                assert g[k] == v, (s, k)


def test_langid_confusion_matrix_is_row_normalized(spark):
    """Per actual language: cell fractions sum to 1 and cell counts sum
    to the language's doc count; the grand total is the corpus; cells
    agree with a direct recompute from text_lang_id's per-doc
    predictions (same shared expression, independent aggregation
    path)."""
    from flink_tornadovm_artifact_spark.queries.llm import (
        langid_confusion_matrix,
        text_lang_id,
    )

    rows = langid_confusion_matrix(spark, SF_SMOKE).collect()
    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "lang").collect()
    preds = {r.doc_id: r.pred_lang for r in text_lang_id(spark, SF_SMOKE).collect()}
    exp: dict[tuple[str, str], int] = defaultdict(int)
    for d in docs:
        exp[(d.lang, preds[d.doc_id])] += 1
    assert {(r.lang, r.pred_lang): r.n_docs for r in rows} == dict(exp)
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r.lang].append(r)
        assert r.is_correct == int(r.lang == r.pred_lang)
    lang_totals = defaultdict(int)
    for d in docs:
        lang_totals[d.lang] += 1
    for lang, cells in by_lang.items():
        assert sum(c.n_docs for c in cells) == lang_totals[lang]
        assert sum(c.frac_of_lang for c in cells) == pytest.approx(1.0)
    assert sum(r.n_docs for r in rows) == len(docs)


def test_gapfill_locf_accounting(spark):
    """Per user: span = observed + gaps, span equals the user's own
    [min, max] hour range, every user appears exactly once, the first
    hour is always observed (LOCF never reads before the series), and
    a direct Python recompute of one user's LOCF mean matches."""
    from flink_tornadovm_artifact_spark.queries.temporal_q import (
        hypertable_gapfill_locf,
    )

    rows = {r.user_id: r for r in hypertable_gapfill_locf(spark, SF_SMOKE).collect()}
    ev = load(spark, SF_SMOKE, "events").select("user_id", "ts", "value").collect()
    hourly: dict[int, dict[int, list[float]]] = defaultdict(lambda: defaultdict(list))
    for e in ev:
        hourly[e.user_id][int(e.ts.timestamp() // 3600)].append(e.value)
    assert set(rows) == set(hourly)
    for uid, hours in hourly.items():
        r = rows[uid]
        h0, h1 = min(hours), max(hours)
        assert r.n_hours_span == h1 - h0 + 1
        assert r.n_observed == len(hours)
        assert r.n_gaps == r.n_hours_span - r.n_observed
        assert r.n_gaps >= 0
    # full LOCF recompute for the user with the most gaps
    uid = max(rows, key=lambda u: rows[u].n_gaps)
    hours = hourly[uid]
    h0, h1 = min(hours), max(hours)
    means = {h: sum(v) / len(v) for h, v in hours.items()}
    fv, series = None, []
    for h in range(h0, h1 + 1):
        fv = means.get(h, fv)
        series.append(fv)
    assert rows[uid].locf_avg == pytest.approx(sum(series) / len(series))
    assert rows[uid].observed_avg == pytest.approx(
        sum(means.values()) / len(means)
    )


def test_funnel_is_monotone_and_ordered(spark):
    """Step populations must be non-increasing, conversions in (0, 1],
    and the step-2 user set must be exactly the users with a click
    strictly after their first view (recomputed in Python)."""
    from flink_tornadovm_artifact_spark.queries.temporal_q import (
        FUNNEL_STEPS,
        funnel_conversion_events,
    )

    rows = sorted(
        funnel_conversion_events(spark, SF_SMOKE).collect(),
        key=lambda r: r.step,
    )
    assert [r.step_name for r in rows] == list(FUNNEL_STEPS)
    assert rows[0].n_users >= rows[1].n_users >= rows[2].n_users
    for r in rows[1:]:
        assert 0.0 < r.conv_from_prev <= 1.0
        assert 0.0 < r.conv_from_first <= 1.0
    ev = load(spark, SF_SMOKE, "events").select(
        "user_id", "event_type", "ts"
    ).collect()
    first_view: dict[int, object] = {}
    for e in ev:
        if e.event_type == FUNNEL_STEPS[0]:
            if e.user_id not in first_view or e.ts < first_view[e.user_id]:
                first_view[e.user_id] = e.ts
    clicked = set()
    for e in ev:
        if (
            e.event_type == FUNNEL_STEPS[1]
            and e.user_id in first_view
            and e.ts > first_view[e.user_id]
        ):
            clicked.add(e.user_id)
    assert rows[0].n_users == len(first_view)
    assert rows[1].n_users == len(clicked)


def test_wordpiece_matches_python_greedy(spark):
    """Per-source token/piece/unk counts must equal a pure-Python
    greedy max-match recompute (vocab rebuilt from scratch with the
    same frequency threshold), and the UNK branch must actually fire
    on the fixture (below-threshold chars exist by construction of
    the 0.5% ratio)."""
    from flink_tornadovm_artifact_spark.queries.llm import (
        WORDPIECE_MAX_LEN,
        WORDPIECE_VOCAB_RATIO,
        wordpiece_fertility_panel,
    )

    docs = load(spark, SF_SMOKE, "documents").select("source", "text").collect()
    occ_sw: dict[tuple[str, str], int] = defaultdict(int)
    occ: dict[str, int] = defaultdict(int)
    for d in docs:
        for w in d.text.split(" "):
            occ_sw[(d.source, w)] += 1
            occ[w] += 1
    freq: dict[str, int] = defaultdict(int)
    for w, c in occ.items():
        for i in range(len(w)):
            for k in range(1, min(WORDPIECE_MAX_LEN, len(w) - i) + 1):
                freq[w[i : i + k]] += c
    tot = sum(freq.values())
    vocab = {p for p, f in freq.items() if f >= WORDPIECE_VOCAB_RATIO * tot}

    def seg(w: str) -> tuple[int, int]:
        pos, pieces, unks = 0, 0, 0
        while pos < len(w):
            for k in range(min(WORDPIECE_MAX_LEN, len(w) - pos), 0, -1):
                if w[pos : pos + k] in vocab:
                    pieces += 1
                    pos += k
                    break
            else:
                unks += 1
                pos += 1
        return pieces, unks

    segs = {w: seg(w) for w in occ}
    exp: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    for (src, w), c in occ_sw.items():
        p, u = segs[w]
        exp[src]["n_tokens"] += c
        exp[src]["n_pieces"] += p * c
        exp[src]["n_unk"] += u * c
    got = {r.source: r for r in wordpiece_fertility_panel(spark, SF_SMOKE).collect()}
    assert set(got) == set(exp)
    for src, e in exp.items():
        g = got[src]
        assert g.n_tokens == e["n_tokens"]
        assert g.n_pieces == e["n_pieces"]
        assert g.n_unk == e["n_unk"]
        assert g.fertility == pytest.approx(e["n_pieces"] / e["n_tokens"])
        assert g.unk_rate == pytest.approx(e["n_unk"] / e["n_tokens"])
    assert sum(e["n_unk"] for e in exp.values()) > 0
    # greedy never emits more pieces+unks than characters
    for w, (p, u) in segs.items():
        assert p + u <= len(w)


def test_unigram_viterbi_matches_python_dp(spark):
    """Per-source Viterbi piece counts and mean logprob must equal a
    pure-Python DP recompute with the same product-form scoring, and
    Viterbi's probability must dominate the greedy max-match
    segmentation's probability on EVERY word type (the optimality
    property that distinguishes the two decodes)."""
    from flink_tornadovm_artifact_spark.queries.llm import (
        WORDPIECE_MAX_LEN,
        WORDPIECE_VOCAB_RATIO,
        unigram_viterbi_panel,
    )

    docs = load(spark, SF_SMOKE, "documents").select("source", "text").collect()
    occ_sw: dict[tuple[str, str], int] = defaultdict(int)
    occ: dict[str, int] = defaultdict(int)
    for d in docs:
        for w in d.text.split(" "):
            occ_sw[(d.source, w)] += 1
            occ[w] += 1
    freq: dict[str, int] = defaultdict(int)
    for w, c in occ.items():
        for i in range(len(w)):
            for k in range(1, min(WORDPIECE_MAX_LEN, len(w) - i) + 1):
                freq[w[i : i + k]] += c
    tot = float(sum(freq.values()))
    probs = {
        p: f / tot for p, f in freq.items() if f >= WORDPIECE_VOCAB_RATIO * tot
    }
    unk_p = 1.0 / tot

    def viterbi(w: str) -> tuple[int, float]:
        best = [1.0] + [0.0] * len(w)
        cnt = [0] * (len(w) + 1)
        for i in range(1, len(w) + 1):
            b, n = best[i - 1] * unk_p, cnt[i - 1] + 1
            for k in range(1, min(WORDPIECE_MAX_LEN, i) + 1):
                p = probs.get(w[i - k : i])
                if p is not None and best[i - k] * p > b:
                    b, n = best[i - k] * p, cnt[i - k] + 1
            best[i], cnt[i] = b, n
        return cnt[-1], best[-1]

    def greedy_prob(w: str) -> float:
        pos, prob = 0, 1.0
        while pos < len(w):
            for k in range(min(WORDPIECE_MAX_LEN, len(w) - pos), 0, -1):
                if w[pos : pos + k] in probs:
                    prob *= probs[w[pos : pos + k]]
                    pos += k
                    break
            else:
                prob *= unk_p
                pos += 1
        return prob

    segs = {w: viterbi(w) for w in occ}
    for w, (_, vp) in segs.items():
        assert vp >= greedy_prob(w) - 1e-300, w
    exp: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for (src, w), c in occ_sw.items():
        n, p = segs[w]
        exp[src]["n_tokens"] += c
        exp[src]["n_pieces"] += n * c
        exp[src]["logprob"] += math.log(p) * c
    got = {r.source: r for r in unigram_viterbi_panel(spark, SF_SMOKE).collect()}
    assert set(got) == set(exp)
    for src, e in exp.items():
        g = got[src]
        assert g.n_tokens == e["n_tokens"]
        assert g.n_pieces == e["n_pieces"]
        assert g.fertility_viterbi == pytest.approx(
            e["n_pieces"] / e["n_tokens"]
        )
        assert g.mean_logprob == pytest.approx(e["logprob"] / e["n_tokens"])


def test_k_anonymity_matches_python_recompute(spark):
    """Class counts, below-k counts, and risk mass must equal a direct
    Python recompute of the quasi-identifier groupings, and the
    fixture must actually contain below-k classes (the audit is not a
    row of zeros)."""
    from flink_tornadovm_artifact_spark.queries.pipeline import (
        K_ANON_K,
        K_ANON_QI,
        dq_k_anonymity,
    )

    got = {r.table_name: r for r in dq_k_anonymity(spark, SF_SMOKE).collect()}
    assert set(got) == set(K_ANON_QI)
    any_below = 0
    for table, qi in K_ANON_QI.items():
        rows = load(spark, SF_SMOKE, table).select(*qi).collect()
        classes: dict[tuple, int] = defaultdict(int)
        for r in rows:
            classes[tuple(r)] += 1
        g = got[table]
        assert g.k == K_ANON_K
        assert g.n_classes == len(classes)
        assert g.n_below_k == sum(1 for n in classes.values() if n < K_ANON_K)
        assert g.records_at_risk == sum(
            n for n in classes.values() if n < K_ANON_K
        )
        assert g.min_class_size == min(classes.values())
        any_below += g.n_below_k
    assert any_below > 0


def test_retrieval_eval_is_consistent_with_topk(spark):
    """hits@k must equal the overlap of the BM25 top-k with the
    conjunctive-match set recomputed in Python; MRR is 0 or 1/rank of
    the first relevant hit; recall is capped at 1."""
    from flink_tornadovm_artifact_spark.queries.pipeline import (
        BM25_QUERIES,
        BM25_TOPK,
        retrieval_bm25_topk,
        retrieval_eval_panel,
    )

    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    toks = {r.doc_id: set(r.text.split(" ")) for r in docs}
    rel = {
        qid: {d for d, ts in toks.items() if all(t in ts for t in terms)}
        for qid, terms in BM25_QUERIES.items()
    }
    topk = defaultdict(list)
    for r in retrieval_bm25_topk(spark, SF_SMOKE).collect():
        topk[r.query_id].append((r.rk, r.doc_id))
    got = {r.query_id: r for r in retrieval_eval_panel(spark, SF_SMOKE).collect()}
    assert set(got) == set(BM25_QUERIES)
    for qid, g in got.items():
        ranked = sorted(topk[qid])
        hits = [rk for rk, d in ranked if d in rel[qid]]
        assert g.n_relevant == len(rel[qid])
        assert g.hits_at_k == len(hits)
        assert 0 <= g.hits_at_k <= BM25_TOPK
        if hits:
            assert g.mrr_at_k == pytest.approx(1.0 / hits[0])
        else:
            assert g.mrr_at_k == 0.0
        assert g.recall_at_k is None or g.recall_at_k <= 1.0 + 1e-12


def test_unigram_vocab_memo_session_scoped(spark):
    """The trained unigram vocab is session-memoized per (applicationId,
    sf_dir) — one substring-frequency aggregate + collect per session
    per corpus."""
    from flink_tornadovm_artifact_spark.queries._util import _MEMO
    from flink_tornadovm_artifact_spark.queries.llm import _unigram_vocab

    app = spark.sparkContext.applicationId
    key = (app, SF_SMOKE, _unigram_vocab.__wrapped__)
    _MEMO.pop(key, None)
    probs, unk_p = _unigram_vocab(spark, SF_SMOKE)
    assert probs and 0.0 < unk_p < 1.0
    assert key in _MEMO
    # memo hit: a poisoned entry is served back untouched
    _MEMO[key] = ({"x": 1.0}, 0.5)
    assert _unigram_vocab(spark, SF_SMOKE) == ({"x": 1.0}, 0.5)
    # stale-session eviction: a foreign-app key is dropped on lookup
    dead = ("dead-app",) + key[1:]
    _MEMO[dead] = ({}, 0.1)
    _unigram_vocab(spark, SF_SMOKE)
    assert dead not in _MEMO
    _MEMO.pop(key, None)
