"""Semantic pins for the round-11 THIRD debut batch (the driver
differential checks Spark == DuckDB; these check the operators mean
what they claim):

- winnowing_fingerprint_panel: every per-doc row recomputed in plain
  Python (token codes, k-gram polynomial hashes, rightmost-min window
  selection — a third engine beyond the Spark/DuckDB differential),
  the 2/(w+1) density regime, and cross-doc sharing non-vacuity.
- pii_redact_transform: the injected counts are exactly the modular
  doc_id classes, redaction is idempotent everywhere, and the
  redacted md5 is recomputed per row with Python's re module from the
  reconstructed leaky text.
- dedup_impact_panel: the rollup reconciles exactly with
  dedup_cluster_representatives' keep-set (same corpus, same flags),
  and the near-dup pass removes a non-zero token mass at the oracle SF.
- stream_dedup_events: the STREAMING leg — Structured Streaming
  dropDuplicatesWithinWatermark over the same injected at-least-once
  feed — reproduces the batch twin row-for-row (exactly-once view ==
  the original events), including across micro-batch boundaries;
  plus kill-and-restart checkpoint recovery (dedup state resumed, not
  replayed), the watermark contract boundary (a duplicate arriving
  after the watermark passed its event time is dropped as late data,
  not doubled), and the RocksDB state-store provider pin (the 100 TB
  provider, extended from the four stateful twins).
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

from flink_tornadovm_artifact_spark.queries.behavior import (
    STREAM_DEDUP_DELAY,
    STREAM_DEDUP_MOD,
    _dedup_arrivals,
    stream_dedup_events,
)
from flink_tornadovm_artifact_spark.queries.llm import (
    _RH_B,
    _RH_P,
    WINNOW_K,
    WINNOW_W,
    dedup_cluster_representatives,
    dedup_impact_panel,
    winnowing_fingerprint_panel,
)
from flink_tornadovm_artifact_spark.queries.pipeline import (
    PII_EMAIL_PATTERN,
    PII_IP_PATTERN,
    PII_PHONE_PATTERN,
    pii_redact_transform,
)
from flink_tornadovm_artifact_spark.tables import load

from .conftest import SF_ORACLE, SF_SMOKE, stamp_batch


# ---------------------------------------------------------------------------
# winnowing_fingerprint_panel
# ---------------------------------------------------------------------------
def _winnow_py(text: str):
    """Pure-Python recompute of the panel row: token md5-prefix codes,
    k-gram polynomial hashes mod P, rightmost-min selection per window
    of w consecutive k-gram hashes, distinct positions/hashes."""
    toks = text.split(" ")
    codes = [
        int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % _RH_P
        for t in toks
    ]
    if len(codes) < WINNOW_K + WINNOW_W - 1:
        return None
    hs = []
    for i in range(len(codes) - WINNOW_K + 1):
        h = codes[i]
        for k in range(1, WINNOW_K):
            h = h * _RH_B + codes[i + k]
        hs.append(h % _RH_P)
    sel = set()
    for j in range(len(hs) - WINNOW_W + 1):
        win = hs[j : j + WINNOW_W]
        m = min(win)
        # rightmost minimal position (robust winnowing tie rule)
        sel.add(j + max(i for i, v in enumerate(win) if v == m))
    fph = {hs[p] for p in sel}
    return {
        "n_kgrams": len(hs),
        "n_fingerprints": len(sel),
        "n_fp_hashes": len(fph),
        "fph": fph,
    }


def test_winnowing_rows_match_python_recompute(spark):
    docs = {
        r.doc_id: r.text
        for r in load(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .collect()
    }
    got = {
        r.doc_id: r
        for r in winnowing_fingerprint_panel(spark, SF_SMOKE).collect()
    }
    expected = {d: _winnow_py(t) for d, t in docs.items()}
    expected = {d: e for d, e in expected.items() if e is not None}
    assert set(got) == set(expected)
    # cross-doc sharing from the recomputed fingerprint sets
    freq = defaultdict(int)
    for e in expected.values():
        for h in e["fph"]:
            freq[h] += 1
    for d, e in expected.items():
        row = got[d]
        assert row.n_kgrams == e["n_kgrams"], d
        assert row.n_fingerprints == e["n_fingerprints"], d
        assert row.n_fp_hashes == e["n_fp_hashes"], d
        assert row.n_shared_fp == sum(
            1 for h in e["fph"] if freq[h] >= 2
        ), d
        assert abs(row.density - e["n_fingerprints"] / e["n_kgrams"]) < 1e-12


def test_winnowing_density_regime(spark):
    """Winnowing's selection density must sit in the guaranteed band:
    at least 1/w (one pick per window), at most 1 — and the corpus mean
    should be in the neighbourhood of the 2/(w+1) expectation for
    random hashes (loose band: the synthetic corpus's tiny vocabulary
    repeats k-grams, which only ever lowers the distinct count)."""
    rows = winnowing_fingerprint_panel(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        # every window picks a fingerprint and one pick can serve at
        # most w consecutive windows => at least ceil(n_windows / w)
        n_windows = r.n_kgrams - WINNOW_W + 1
        assert r.n_fingerprints >= -(-n_windows // WINNOW_W)
        assert r.density <= 1.0
    mean = sum(r.density for r in rows) / len(rows)
    assert 0.5 * 2 / (WINNOW_W + 1) <= mean <= 2.5 * 2 / (WINNOW_W + 1)


def test_winnowing_sharing_nonvacuous(spark):
    """The dup-detection leg must fire on the word-salad corpus (tiny
    vocabulary => shared k-grams across docs are guaranteed)."""
    rows = winnowing_fingerprint_panel(spark, SF_ORACLE).collect()
    assert sum(r.n_shared_fp for r in rows) > 0


# ---------------------------------------------------------------------------
# pii_redact_transform
# ---------------------------------------------------------------------------
def _leaky_py(doc_id: int, text: str) -> str:
    out = text
    if doc_id % 3 == 0:
        out += f" contact user{doc_id}@mail.example.com"
    if doc_id % 4 == 0:
        out += f" call (555) 867-{doc_id % 10000:04d}"
    if doc_id % 5 == 0:
        out += f" from 10.{doc_id % 256}.0.{doc_id % 200 + 1}"
    return out


def _redact_py(s: str) -> str:
    s = re.sub(PII_EMAIL_PATTERN, "<EMAIL>", s)
    s = re.sub(PII_PHONE_PATTERN, "<PHONE>", s)
    return re.sub(PII_IP_PATTERN, "<IP>", s)


def test_pii_redact_counts_are_the_injected_classes(spark):
    rows = pii_redact_transform(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert r.n_emails == (1 if r.doc_id % 3 == 0 else 0), r.doc_id
        assert r.n_phones == (1 if r.doc_id % 4 == 0 else 0), r.doc_id
        assert r.n_ips == (1 if r.doc_id % 5 == 0 else 0), r.doc_id
        assert r.idempotent, r.doc_id
        if r.doc_id % 3 and r.doc_id % 4 and r.doc_id % 5:
            assert r.chars_removed == 0
        else:
            assert r.chars_removed > 0


def test_pii_redact_hash_matches_python_re(spark):
    """Third-engine recompute: rebuild the leaky text and redact it
    with Python's re; the md5 must match Spark's redacted_hash."""
    docs = {
        r.doc_id: r.text
        for r in load(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .collect()
    }
    rows = pii_redact_transform(spark, SF_SMOKE).collect()
    assert set(docs) == {r.doc_id for r in rows}
    for r in rows:
        red = _redact_py(_leaky_py(r.doc_id, docs[r.doc_id]))
        assert hashlib.md5(red.encode()).hexdigest() == r.redacted_hash, (
            r.doc_id
        )


# ---------------------------------------------------------------------------
# dedup_impact_panel
# ---------------------------------------------------------------------------
def test_dedup_impact_reconciles_with_keepset(spark):
    reps = {
        r.doc_id: r.is_representative
        for r in dedup_cluster_representatives(spark, SF_ORACLE).collect()
    }
    docs = load(spark, SF_ORACLE, "documents").select(
        "doc_id", "source", "lang", "text"
    ).collect()
    exp = defaultdict(lambda: [0, 0, 0, 0])  # docs, removed, tok, tok_rm
    for d in docs:
        n_tok = len(d.text.split(" "))
        e = exp[(d.source, d.lang)]
        e[0] += 1
        e[2] += n_tok
        if not reps[d.doc_id]:
            e[1] += 1
            e[3] += n_tok
    rows = dedup_impact_panel(spark, SF_ORACLE).collect()
    assert {(r.source, r.lang) for r in rows} == set(exp)
    for r in rows:
        e = exp[(r.source, r.lang)]
        assert (r.n_docs, r.n_removed, r.n_tokens, r.tokens_removed) == tuple(
            e
        )
        assert abs(r.removed_doc_frac - e[1] / e[0]) < 1e-12
        assert abs(r.removed_token_frac - e[3] / e[2]) < 1e-12
    # the pass must actually remove something at the oracle SF
    assert sum(r.n_removed for r in rows) > 0
    assert sum(r.tokens_removed for r in rows) > 0


# ---------------------------------------------------------------------------
# stream_dedup_events — the streaming leg
# ---------------------------------------------------------------------------
def test_stream_dedup_panel_accounting(spark):
    rows = stream_dedup_events(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert r.n_arrivals - r.n_unique == r.n_dup_dropped
        assert 0.0 < r.dup_rate < 1.0  # injection fires in every type
        assert r.dup_value_at_risk > 0.0


def _write_dedup_chunks(feed, chunks):
    import pyarrow as pa
    import pyarrow.parquet as pq

    feed.mkdir(exist_ok=True)
    existing = len(list(feed.glob("b*.parquet")))
    for i, part in enumerate(chunks, start=existing):
        if not part:
            continue
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(
                        [r.ts for r in part], pa.timestamp("us")
                    ),
                    "event_id": pa.array(
                        [r.event_id for r in part], pa.int64()
                    ),
                    "user_id": pa.array(
                        [r.user_id for r in part], pa.int64()
                    ),
                    "event_type": pa.array(
                        [r.event_type for r in part], pa.string()
                    ),
                    "value": pa.array(
                        [r.value for r in part], pa.float64()
                    ),
                }
            ),
            str(feed / f"b{i:02d}.parquet"),
        )
        stamp_batch(feed / f"b{i:02d}.parquet", i)


def _dedup_stream(spark, feed):
    return (
        spark.readStream.schema(
            "ts timestamp, event_id bigint, user_id bigint, "
            "event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
        .withWatermark("ts", STREAM_DEDUP_DELAY)
        .dropDuplicatesWithinWatermark(["event_id"])
    )


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


def _arrival_chunks(spark, n_chunks=8):
    arrivals = (
        _dedup_arrivals(spark, SF_SMOKE)
        .orderBy("ts", "event_id", "copy_no")
        .collect()
    )
    size = (len(arrivals) + n_chunks - 1) // n_chunks
    return arrivals, [
        arrivals[i * size : (i + 1) * size] for i in range(n_chunks)
    ]


def test_stream_dedup_streaming_leg_matches_twin(spark, tmp_path):
    """Replay the injected feed (ts-ordered, split across micro-batch
    files so original and redelivery can straddle batch boundaries)
    through withWatermark + dropDuplicatesWithinWatermark and require
    the drained rows to be EXACTLY the original events — the
    exactly-once view the batch twin accounts for."""
    arrivals, chunks = _arrival_chunks(spark)
    feed = tmp_path / "feed"
    _write_dedup_chunks(feed, chunks)
    out = _drain(_dedup_stream(spark, feed), tmp_path / "ckpt")

    base = load(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).collect()
    assert len(out) == len(base)  # every duplicate dropped, nothing lost
    got = {
        r.event_id: (r.ts, r.user_id, r.event_type, r.value) for r in out
    }
    assert len(got) == len(out)  # each event_id exactly once
    for b in base:
        assert got[b.event_id] == (b.ts, b.user_id, b.event_type, b.value)
    # the twin's accounting agrees with the replayed feed
    n_dupes = sum(1 for r in arrivals if r.copy_no == 1)
    panel = stream_dedup_events(spark, SF_SMOKE).collect()
    assert sum(p.n_dup_dropped for p in panel) == n_dupes
    assert sum(p.n_unique for p in panel) == len(base)


def test_stream_dedup_recovers_from_checkpoint(spark, tmp_path):
    """Kill-and-restart durability (the twins' discipline): run over
    the first micro-batch file only, stop, add the rest, restart from
    the SAME checkpoint — the union of both runs' emissions equals the
    uninterrupted exactly-once view (dedup state resumed, not
    replayed: a duplicate whose original emitted before the kill must
    NOT re-emit after the restart)."""
    arrivals, chunks = _arrival_chunks(spark)
    feed = tmp_path / "grow_feed"
    _write_dedup_chunks(feed, chunks[:1])
    first = _drain(_dedup_stream(spark, feed), tmp_path / "ckpt")
    assert first
    _write_dedup_chunks(feed, chunks[1:])
    second = _drain(_dedup_stream(spark, feed), tmp_path / "ckpt")
    assert second
    base = load(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).collect()
    got = sorted(
        (r.event_id, r.ts, r.user_id, r.event_type, r.value)
        for r in first + second
    )
    assert got == sorted(
        (b.event_id, b.ts, b.user_id, b.event_type, b.value) for b in base
    )


def test_stream_dedup_late_duplicate_is_dropped_not_doubled(spark, tmp_path):
    """The contract BOUNDARY, pinned honestly: a duplicate delivered
    after the watermark has passed its event time is late data — the
    engine drops it before the dedup operator, so the exactly-once
    view still holds (dropped-as-late, not deduped-by-state; beyond
    the delay the state may be gone, and this is why)."""
    import datetime as dt

    base = (
        load(spark, SF_SMOKE, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("ts", "event_id")
        .collect()
    )
    max_ts = max(r.ts for r in base)
    sentinel = type(base[0])(
        event_id=10_000_001,
        ts=max_ts + dt.timedelta(days=2),
        user_id=-1,
        event_type="sentinel",
        value=0.0,
    )
    late_dups = [r for r in base if r.event_id % STREAM_DEDUP_MOD == 0][:50]
    feed = tmp_path / "late_feed"
    # batch 1: originals; batch 2: far-future sentinel advances the
    # GLOBAL watermark past every original + delay; batch 3: the
    # duplicates arrive — now late
    _write_dedup_chunks(feed, [base, [sentinel], late_dups])
    out = _drain(_dedup_stream(spark, feed), tmp_path / "ckpt")
    ids = [r.event_id for r in out]
    assert len(ids) == len(set(ids))  # nothing doubled
    assert sorted(ids) == sorted(
        [b.event_id for b in base] + [sentinel.event_id]
    )


def test_stream_dedup_runs_on_rocksdb_state_store(spark, tmp_path):
    """The 100 TB state-store provider pin, extended from the four
    stateful twins to the dedup leg: dropDuplicatesWithinWatermark's
    keyed dedup state must run under RocksDB and emit the same
    exactly-once view as the default provider."""
    import glob

    arrivals, chunks = _arrival_chunks(spark)
    feed = tmp_path / "feed"
    _write_dedup_chunks(feed, chunks)

    baseline = _drain(_dedup_stream(spark, feed), tmp_path / "base_ckpt")

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        emitted = _drain(_dedup_stream(spark, feed), tmp_path / "rks_ckpt")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    k = lambda r: (r.event_id, r.ts, r.user_id, r.event_type, r.value)
    assert sorted(map(k, emitted)) == sorted(map(k, baseline))
    assert emitted
    rocks_files = glob.glob(
        str(tmp_path / "rks_ckpt" / "state" / "**" / "*.zip"), recursive=True
    ) + glob.glob(
        str(tmp_path / "rks_ckpt" / "state" / "**" / "*.changelog"),
        recursive=True,
    )
    assert rocks_files, "no RocksDB snapshot artifacts under the checkpoint"
