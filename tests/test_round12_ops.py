"""Semantic pins for the round-12 debut family (the driver differential
checks Spark == DuckDB; these check the operators mean what they claim):

- stream_neardup_ingest: the STREAMING leg — the incremental
  MinHash-LSH band-bucket min state (streaming/neardup.py,
  applyInPandasWithState keyed on (band_id, band_key)) — reproduces
  the batch twin's admission verdicts row-for-row when the feed
  arrives in doc_id order, including across micro-batch boundaries;
  plus at-least-once redelivery absorption (the fold min-reduces per
  band — a mechanism, not prose), kill-and-restart checkpoint
  recovery (bucket state resumed, not replayed), and the RocksDB
  state-store provider pin (the 100 TB provider, the stream_dedup
  discipline).
- exact_substring_spans / exact_substring_removal /
  dup_ngram_exposure: every per-doc row recomputed in plain Python
  (k-gram md5 fingerprints, corpus-wide frequency, islands run
  extension, keep-first marking on the (doc_id, pos) ordinal,
  interval-union token accounting — a third engine beyond the
  Spark/DuckDB differential), plus non-vacuity on the fixture's
  injected duplicate passages.
- epoch_repetition_budget / mixture_epoch_schedule: budget
  conservation (weights sum to 1, allocations sum to the training
  budget), reconciliation with dedup_impact_panel's keep-set mass,
  the decay-curve laws (effective <= allocated, equality iff no
  repetition), and the schedule's telescoping identities (per-source
  epoch rows sum back to the budget row; marginal value opens at 1.0
  and never increases — the diminishing-returns shape the paper fits).
- session_memo: entries keyed to another (stopped) session's
  applicationId are dropped on lookup and their frames unpersisted;
  the live session's entries survive; clear() drops them all.
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import pytest

from flink_tornadovm_artifact_spark.queries.llm import (
    EXSUB_K,
    EXSUB_MIN_TOKENS,
    _EXSUB_ORD,
    MIX_ALPHA,
    MIX_BUDGET_EPOCHS,
    dedup_impact_panel,
    dup_ngram_exposure,
    exact_substring_removal,
    exact_substring_spans,
    stream_neardup_ingest,
)
from flink_tornadovm_artifact_spark.queries.pipeline import (
    RD_STAR,
    epoch_repetition_budget,
    mixture_epoch_schedule,
)
from flink_tornadovm_artifact_spark.streaming.neardup import (
    BAND_EMIT_SCHEMA,
    neardup_band_state_stream,
    neardup_bands,
    neardup_verdicts,
)
from flink_tornadovm_artifact_spark.tables import load

from .conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# stream_neardup_ingest — streaming leg
# ---------------------------------------------------------------------------
def _doc_chunks(spark, n_chunks=8):
    docs = (
        load(spark, SF_SMOKE, "documents")
        .select("doc_id", "text", "source")
        .orderBy("doc_id")
        .collect()
    )
    size = (len(docs) + n_chunks - 1) // n_chunks
    return docs, [docs[i * size : (i + 1) * size] for i in range(n_chunks)]


def _write_doc_chunks(feed, chunks):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    feed.mkdir(exist_ok=True)
    existing = len(list(feed.glob("b*.parquet")))
    for i, part in enumerate(chunks, start=existing):
        if not part:
            continue
        path = feed / f"b{i:02d}.parquet"
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(
                        [r.doc_id for r in part], pa.int64()
                    ),
                    "text": pa.array([r.text for r in part], pa.string()),
                }
            ),
            str(path),
        )
        # the file source orders micro-batches by MODIFICATION TIME —
        # files written within the same clock tick tie and the
        # tie-break is not the path, so the in-doc_id-order arrival
        # contract needs explicit strictly-increasing mtimes (caught
        # by the RocksDB leg processing b03 after b04)
        ts = 1_600_000_000 + i
        os.utime(path, (ts, ts))


def _neardup_stream(spark, feed):
    docs = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    return neardup_band_state_stream(neardup_bands(docs))


def _drain(stream, ckpt):
    out = []

    def sink(batch_df, _epoch):
        out.extend(batch_df.collect())

    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .foreachBatch(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return out


def _verdicts_from(spark, emissions):
    em = spark.createDataFrame(emissions, schema=BAND_EMIT_SCHEMA)
    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "source")
    return sorted(
        (r.doc_id, r.source, r.admitted, r.evicted_by, r.n_stale_bands)
        for r in neardup_verdicts(em, docs).collect()
    )


def _twin_rows(spark):
    return sorted(
        (r.doc_id, r.source, r.admitted, r.evicted_by, r.n_stale_bands)
        for r in stream_neardup_ingest(spark, SF_SMOKE).collect()
    )


def test_neardup_streaming_leg_matches_twin(spark, tmp_path):
    """doc_id-ordered feed split across micro-batch files: the drained
    band emissions, folded by neardup_verdicts, must equal the batch
    twin's admission verdicts row-for-row (the monotone-MIN state makes
    each emission's running bucket min the GLOBAL min from that doc's
    perspective — every smaller doc_id has already arrived)."""
    _docs, chunks = _doc_chunks(spark)
    feed = tmp_path / "feed"
    _write_doc_chunks(feed, chunks)
    emissions = _drain(_neardup_stream(spark, feed), tmp_path / "ckpt")
    assert emissions  # the corpus shingles — bands flowed
    got = _verdicts_from(spark, emissions)
    want = _twin_rows(spark)
    assert got == want
    # non-vacuity: the injected near-dups make both verdicts non-trivial
    assert any(not a for (_, _, a, _, _) in want)
    assert any(a for (_, _, a, _, _) in want)


def test_neardup_redelivery_is_absorbed(spark, tmp_path):
    """At-least-once: re-deliver two early chunks AFTER later docs have
    arrived. Redelivered docs produce second emissions per (doc, band)
    (with first_doc <= the first emission's — the bucket min can only
    have tightened); the fold's per-band min-reduce absorbs them and
    the verdict set is unchanged."""
    _docs, chunks = _doc_chunks(spark)
    feed = tmp_path / "feed"
    _write_doc_chunks(feed, chunks + [chunks[0], chunks[3]])
    emissions = _drain(_neardup_stream(spark, feed), tmp_path / "ckpt")
    # the redelivered chunks really did emit again (at-least-once
    # fired): strictly more emissions than the corpus has band rows
    exactly_once_bands = neardup_bands(
        load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    ).count()
    assert len(emissions) > exactly_once_bands
    assert _verdicts_from(spark, emissions) == _twin_rows(spark)


def test_neardup_recovers_from_checkpoint(spark, tmp_path):
    """Kill-and-restart durability: run over the first micro-batch file
    only, stop, add the rest, restart from the SAME checkpoint — the
    union of both runs' emissions folds to the uninterrupted verdicts
    (bucket-min state resumed, not replayed: a band whose min was set
    before the kill must still evict later docs after the restart)."""
    _docs, chunks = _doc_chunks(spark)
    feed = tmp_path / "grow_feed"
    _write_doc_chunks(feed, chunks[:1])
    first = _drain(_neardup_stream(spark, feed), tmp_path / "ckpt")
    assert first
    _write_doc_chunks(feed, chunks[1:])
    second = _drain(_neardup_stream(spark, feed), tmp_path / "ckpt")
    assert second
    assert _verdicts_from(spark, first + second) == _twin_rows(spark)


def test_neardup_runs_on_rocksdb_state_store(spark, tmp_path):
    """The 100 TB state-store provider pin, extended to the near-dup
    leg: the band-bucket min state must run under RocksDB and fold to
    the same verdicts as the default provider."""
    import glob

    _docs, chunks = _doc_chunks(spark)
    feed = tmp_path / "feed"
    _write_doc_chunks(feed, chunks)

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        emissions = _drain(_neardup_stream(spark, feed), tmp_path / "rks")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert _verdicts_from(spark, emissions) == _twin_rows(spark)
    rocks_files = glob.glob(
        str(tmp_path / "rks" / "state" / "**" / "*.zip"), recursive=True
    ) + glob.glob(
        str(tmp_path / "rks" / "state" / "**" / "*.changelog"),
        recursive=True,
    )
    assert rocks_files, "no RocksDB snapshot artifacts under the checkpoint"


# ---------------------------------------------------------------------------
# exact-substring family — pure-Python third engine
# ---------------------------------------------------------------------------
def _exsub_py(docs):
    """Recompute the whole family from (doc_id -> text): corpus k-gram
    frequency, per-doc recurring positions, keep-first marking, runs,
    and merged-interval removal accounting."""
    grams = {}  # doc_id -> [(pos, md5hex)]
    freq = Counter()
    for doc_id, text in docs.items():
        toks = text.split(" ")
        if len(toks) < EXSUB_K:
            grams[doc_id] = []
            continue
        g = [
            (
                i,
                hashlib.md5(
                    " ".join(toks[i : i + EXSUB_K]).encode()
                ).hexdigest(),
            )
            for i in range(len(toks) - EXSUB_K + 1)
        ]
        grams[doc_id] = g
        freq.update(h for _, h in g)

    first_ord = {}
    for doc_id in sorted(grams):
        for pos, h in grams[doc_id]:
            o = doc_id * _EXSUB_ORD + pos
            if h not in first_ord or o < first_ord[h]:
                first_ord[h] = o

    def runs(positions):
        out, start, prev = [], None, None
        for p in sorted(positions):
            if start is None:
                start, prev = p, p
            elif p == prev + 1:
                prev = p
            else:
                out.append((start, prev))
                start, prev = p, p
        if start is not None:
            out.append((start, prev))
        return out

    spans = defaultdict(list)  # doc_id -> [(start, span_tokens)]
    removal = {}  # doc_id -> (n_spans_removed, tokens_removed)
    dup_positions = {}  # doc_id -> (n_pos, n_dup)
    for doc_id, g in grams.items():
        dup_positions[doc_id] = (
            len(g),
            sum(1 for _, h in g if freq[h] >= 2),
        )
        rec = [p for p, h in g if freq[h] >= 2]
        for s, e in runs(rec):
            span = e - s + 1 + EXSUB_K - 1
            if span >= EXSUB_MIN_TOKENS:
                spans[doc_id].append((s, span))
        marked = [
            p
            for p, h in g
            if doc_id * _EXSUB_ORD + p > first_ord[h]
        ]
        ivs = []
        for s, e in runs(marked):
            span = e - s + 1 + EXSUB_K - 1
            if span >= EXSUB_MIN_TOKENS:
                ivs.append((s, s + span - 1))
        merged = []
        for s, e in sorted(ivs):
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        removal[doc_id] = (
            len(merged),
            sum(e - s + 1 for s, e in merged),
        )
    return spans, removal, dup_positions


@pytest.fixture(scope="module")
def exsub_py(spark):
    docs = {
        r.doc_id: r.text
        for r in load(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .collect()
    }
    return docs, _exsub_py(docs)


def test_exact_substring_spans_python_recompute(spark, exsub_py):
    _, (spans_py, _, _) = exsub_py
    got = defaultdict(list)
    for r in exact_substring_spans(spark, SF_SMOKE).collect():
        got[r.doc_id].append((r.span_id, r.start_tok, r.span_tokens))
    want = {
        d: [
            (i + 1, s, span)
            for i, (s, span) in enumerate(sorted(v))
        ]
        for d, v in spans_py.items()
        if v
    }
    assert {d: sorted(v) for d, v in got.items()} == want
    assert want  # non-vacuous: the fixture's injected passages recur


def test_exact_substring_removal_python_recompute(spark, exsub_py):
    docs, (_, removal_py, _) = exsub_py
    rows = exact_substring_removal(spark, SF_SMOKE).collect()
    assert len(rows) == len(docs)  # whole corpus, zeros included
    removed_any = 0
    for r in rows:
        n_spans, toks = removal_py.get(r.doc_id, (0, 0))
        assert (r.n_spans_removed, r.tokens_removed) == (n_spans, toks), (
            r.doc_id
        )
        n_tok = len(docs[r.doc_id].split(" "))
        assert r.n_tok == n_tok
        assert abs(r.frac_removed - toks / n_tok) < 1e-9
        assert r.tokens_removed <= n_tok  # interval union cannot exceed doc
        removed_any += toks > 0
    assert removed_any > 0  # keep-first really removes mass
    # the FIRST copy of every duplicated gram is kept: total removed
    # strictly below total duplicated-position mass
    assert sum(t for _, t in removal_py.values()) < sum(
        len(d.split(" ")) for d in docs.values()
    )


def test_dup_ngram_exposure_reconciles(spark, exsub_py):
    docs, (_, _, dup_py) = exsub_py
    srcs = {
        r.doc_id: r.source
        for r in load(spark, SF_SMOKE, "documents")
        .select("doc_id", "source")
        .collect()
    }
    want = defaultdict(lambda: [0, 0, 0, 0])  # docs, with_dup, pos, dup
    for d in docs:
        n_pos, n_dup = dup_py.get(d, (0, 0))
        w = want[srcs[d]]
        w[0] += 1
        w[1] += n_dup > 0
        w[2] += n_pos
        w[3] += n_dup
    for r in dup_ngram_exposure(spark, SF_SMOKE).collect():
        w = want[r.source]
        assert (
            r.n_docs,
            r.n_docs_with_dup,
            r.n_positions,
            r.n_dup_positions,
        ) == tuple(w), r.source
        expect_frac = 0.0 if w[2] == 0 else w[3] / w[2]
        assert abs(r.dup_position_frac - expect_frac) < 1e-9


# ---------------------------------------------------------------------------
# epoch/repetition budget family
# ---------------------------------------------------------------------------
def test_epoch_budget_conservation_and_laws(spark):
    rows = epoch_repetition_budget(spark, SF_SMOKE).collect()
    assert rows
    total_unique = sum(r.unique_tokens for r in rows)
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-9
    assert (
        abs(
            sum(r.alloc_tokens for r in rows)
            - MIX_BUDGET_EPOCHS * total_unique
        )
        / (MIX_BUDGET_EPOCHS * total_unique)
        < 1e-9
    )
    for r in rows:
        assert r.epochs > 0
        assert r.effective_tokens <= r.alloc_tokens + 1e-6
        if r.epochs <= 1.0:
            # no repetition -> every allocated token counts
            assert abs(r.effective_tokens - r.alloc_tokens) < 1e-6
        else:
            assert r.efficiency < 1.0
        # the decay floor: effective never below one full epoch's worth
        # once at least one epoch is allocated
        if r.epochs >= 1.0:
            assert r.effective_tokens >= r.unique_tokens - 1e-6
    # temperature alpha < 1 flattens: smallest source gets MORE than
    # its raw share, largest LESS (the mixture-weights law, re-checked
    # on the deduped mass)
    assert 0 < MIX_ALPHA < 1
    lo = min(rows, key=lambda r: r.unique_tokens)
    hi = max(rows, key=lambda r: r.unique_tokens)
    assert lo.weight > lo.unique_tokens / total_unique
    assert hi.weight < hi.unique_tokens / total_unique


def test_epoch_budget_reconciles_with_impact_panel(spark):
    per = defaultdict(int)
    for r in dedup_impact_panel(spark, SF_SMOKE).collect():
        per[r.source] += r.n_tokens - r.tokens_removed
    got = {
        r.source: r.unique_tokens
        for r in epoch_repetition_budget(spark, SF_SMOKE).collect()
    }
    assert got == dict(per)


def test_mixture_epoch_schedule_telescopes(spark):
    import math

    budget = {
        r.source: r
        for r in epoch_repetition_budget(spark, SF_SMOKE).collect()
    }
    sched = defaultdict(list)
    for r in mixture_epoch_schedule(spark, SF_SMOKE).collect():
        sched[r.source].append(r)
    assert set(sched) == set(budget)
    for src, rows in sched.items():
        rows.sort(key=lambda r: r.epoch_no)
        b = budget[src]
        assert [r.epoch_no for r in rows] == list(
            range(1, math.ceil(round(b.epochs, 9)) + 1)
        )
        # telescoping: epoch tokens sum to the allocation; the last
        # cumulative point is the budget row's effective mass
        assert (
            abs(sum(r.tokens_this_epoch for r in rows) - b.alloc_tokens)
            / b.alloc_tokens
            < 1e-9
        )
        assert abs(rows[-1].cum_effective - b.effective_tokens) < 1e-4
        # marginal value opens at 1.0 (first epoch is all-unique) and
        # never increases — diminishing returns of repetition
        assert abs(rows[0].marginal_value - 1.0) < 1e-9 or b.epochs < 1
        for a, c in zip(rows, rows[1:]):
            assert c.marginal_value <= a.marginal_value + 1e-9
        for r in rows:
            assert 0.0 < r.marginal_value <= 1.0 + 1e-9


# ---------------------------------------------------------------------------
# session_memo eviction
# ---------------------------------------------------------------------------
def test_session_memo_evicts_stale_sessions(spark):
    from flink_tornadovm_artifact_spark.queries._util import _MEMO, session_memo

    def frame(spark, sf_dir):
        return spark.range(3).persist()

    memo_frame = session_memo(frame)
    app = spark.sparkContext.applicationId
    live = memo_frame(spark, "sf")
    assert memo_frame(spark, "sf") is live  # a hit, no rebuild
    stale = spark.range(4).persist()
    stale.count()
    assert stale.storageLevel.useMemory
    stale_key = ("application_dead_0000", "sf", frame)
    _MEMO[stale_key] = (("w",), stale)
    memo_frame(spark, "sf")
    assert stale_key not in _MEMO
    assert _MEMO[(app, "sf", frame)] is live
    assert stale.storageLevel.useMemory is False  # unpersisted on eviction
    # clear() drops the live session's entries too, frames unpersisted
    live.count()
    assert live.storageLevel.useMemory
    session_memo.clear()
    assert not _MEMO
    assert live.storageLevel.useMemory is False
