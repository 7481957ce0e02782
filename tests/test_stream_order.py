"""The streaming twins' ordering contract as a MECHANISM (round 10):

1. ``streaming.order.ordered_events_stream`` — the watermark-buffered
   per-key reorder stage — restores per-user (ts, event_id) order from a
   fully shuffled arrival, so every twin composed downstream reproduces
   its batch query exactly even on an unordered raw feed.
2. A twin fed out-of-order data DIRECTLY (no reorder stage) fails
   LOUDLY (the cross-batch position check of ``streaming.order.
   keyed_fold``, the driver every keyed twin runs on), never silently
   miscounting.
3. The RocksDB state-store provider and kill-and-restart recovery pins,
   previously Markov-only (test_behavior_ops.py), extended to the
   cohort / funnel / CDC twins.
"""

from __future__ import annotations

import glob
import random
from collections import Counter

import pytest

from flink_tornadovm_artifact_spark.tables import load

from .conftest import SF_SMOKE, stamp_batch

_FEED_COLS = ("ts", "user_id", "event_id", "event_type", "value")
_SCHEMA = (
    "ts timestamp, user_id long, event_id long, event_type string, "
    "value double"
)


def _fixture_rows(spark):
    return (
        load(spark, SF_SMOKE, "events")
        .select(*_FEED_COLS)
        .orderBy("ts", "event_id")
        .collect()
    )


def _write_feed(path, chunks, with_sentinels=False):
    """Write row chunks as one parquet file per micro-batch. With
    ``with_sentinels``, append two single-row batches for sentinel user
    -1 far past the real data: the event-time watermark is GLOBAL, so
    they advance it past every real event and flush the reorder stage's
    buffers without touching any real user's feed (exactly how a live
    feed's own progress flushes it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir()
    max_ts = max(r.ts for c in chunks for r in c)
    if with_sentinels:
        import datetime as dt

        for j in (1, 2):
            chunks = chunks + [
                [
                    type(chunks[0][0])(
                        ts=max_ts + dt.timedelta(days=j),
                        user_id=-1,
                        event_id=10_000_000 + j,
                        event_type="sentinel",
                        value=0.0,
                    )
                ]
            ]
    for i, part in enumerate(chunks):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array([r.ts for r in part], pa.timestamp("us")),
                    "user_id": pa.array(
                        [r.user_id for r in part], pa.int64()
                    ),
                    "event_id": pa.array(
                        [r.event_id for r in part], pa.int64()
                    ),
                    "event_type": pa.array(
                        [r.event_type for r in part], pa.string()
                    ),
                    "value": pa.array([r.value for r in part], pa.float64()),
                }
            ),
            str(path / f"b{i:02d}.parquet"),
        )
        stamp_batch(path / f"b{i:02d}.parquet", i)


def _read_feed(spark, path):
    return (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(path))
    )


def _drain(stream_df, ckpt):
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


#: disorder bound (seconds) for the adversarial arrival — strictly less
#: than the reorder stage's 1-hour watermark delay, because BOUNDED
#: disorder is the contract watermarks exist for: an event arriving more
#: than `delay` after newer events is late data and is dropped by Spark
#: before any stateful operator (ours or built-in) sees it.
_JITTER_S = 1800


def _shuffled_chunks(rows, n_chunks=6, seed=0):
    """A deterministic bounded-disorder shuffle split into micro-batch
    files: every event's arrival position is jittered up to _JITTER_S
    past its event time, scattering each user's events across batches in
    scrambled time order while staying inside the watermark delay."""
    import datetime as dt

    rng = random.Random(seed)
    arrival = sorted(
        (
            (
                r.ts + dt.timedelta(seconds=rng.uniform(0, _JITTER_S)),
                r.event_id,
                r,
            )
            for r in rows
        ),
        key=lambda t: (t[0], t[1]),
    )
    shuffled = [r for _, _, r in arrival]
    # non-vacuity: the arrival order must actually violate per-user
    # event-time order (otherwise the test proves nothing)
    inversions = 0
    last: dict = {}
    for r in shuffled:
        if r.user_id in last and (r.ts, r.event_id) < last[r.user_id]:
            inversions += 1
        last[r.user_id] = (r.ts, r.event_id)
    assert inversions > 0, "jittered feed is accidentally ordered"
    k = len(shuffled) // n_chunks
    return [
        shuffled[i * k : (i + 1) * k if i < n_chunks - 1 else len(shuffled)]
        for i in range(n_chunks)
    ]


@pytest.fixture(scope="module")
def shuffled_src(spark, tmp_path_factory):
    """One shared shuffled+sentinel feed directory for the four
    composition tests."""
    rows = _fixture_rows(spark)
    d = tmp_path_factory.mktemp("shuffled_feed") / "src"
    _write_feed(d, _shuffled_chunks(rows), with_sentinels=True)
    return d


def _ordered(spark, src, with_value=False):
    from flink_tornadovm_artifact_spark.streaming.order import (
        ordered_events_stream,
    )

    return ordered_events_stream(
        _read_feed(spark, src), delay="1 hour", with_value=with_value
    )


@pytest.fixture(scope="module")
def ordered_src(spark, shuffled_src, tmp_path_factory):
    """The production composition topology: Structured Streaming rejects
    two chained applyInPandasWithState stages in ONE query, so the
    reorder stage materializes a durable per-key-ordered log (one
    parquet file per non-empty micro-batch — the log-compacted-topic
    analog) and each twin runs as its own streaming query over that
    log. File-source delivery follows file mtime order, so the twin
    replays the stage's batch order."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("ordered_log")
    out_dir = d / "log"
    out_dir.mkdir()

    def sink(batch_df, epoch):
        pdf = batch_df.toPandas()
        if len(pdf) == 0:
            return
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(pdf["ts"], pa.timestamp("us")),
                    "user_id": pa.array(pdf["user_id"], pa.int64()),
                    "event_id": pa.array(pdf["event_id"], pa.int64()),
                    "event_type": pa.array(pdf["event_type"], pa.string()),
                    "value": pa.array(pdf["value"], pa.float64()),
                }
            ),
            str(out_dir / f"o{epoch:05d}.parquet"),
        )
        time.sleep(0.01)  # distinct mtimes → deterministic replay order

    q = (
        _ordered(spark, shuffled_src, with_value=True)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(d / "ckpt"))
        .foreachBatch(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return out_dir


def test_reorder_stage_restores_per_user_order(spark, shuffled_src, tmp_path):
    """The stage's own contract: per user the emitted rows are globally
    (ts, event_id)-ascending, and once the watermark passes the real
    data (sentinel batches) EVERY real event has been emitted exactly
    once."""
    rows = _fixture_rows(spark)
    out = _drain(_ordered(spark, shuffled_src), tmp_path / "ord_ckpt")
    real = [r for r in out if r.user_id >= 0]
    assert sorted((r.event_id for r in real)) == sorted(
        r.event_id for r in rows
    )
    per_user: dict = {}
    for r in real:
        per_user.setdefault(r.user_id, []).append((r.ts, r.event_id))
    # foreachBatch preserves within-batch order via collect(); the rows
    # list is appended batch by batch, so this checks CROSS-batch order
    for u, seq in per_user.items():
        assert seq == sorted(seq), u


def test_markov_twin_on_reordered_shuffled_feed(spark, ordered_src, tmp_path):
    from flink_tornadovm_artifact_spark.queries.behavior import (
        markov_event_transitions,
        markov_transitions_stream,
    )

    out = _drain(
        markov_transitions_stream(_read_feed(spark, ordered_src)),
        tmp_path / "mkv_ckpt",
    )
    got = Counter()
    for r in out:
        if r.user_id >= 0:
            got[(r.from_type, r.to_type)] += r.n_trans
    expect = Counter(
        {
            (r.from_type, r.to_type): r.n_trans
            for r in markov_event_transitions(spark, SF_SMOKE).collect()
        }
    )
    assert got == expect


def test_cohort_twin_on_reordered_shuffled_feed(spark, ordered_src, tmp_path):
    from flink_tornadovm_artifact_spark.queries.behavior import (
        cohort_retention_stream,
        cohort_retention_weekly,
    )

    out = _drain(
        cohort_retention_stream(_read_feed(spark, ordered_src)),
        tmp_path / "coh_ckpt",
    )
    n_active = Counter(
        (r.cohort_week, r.week_offset) for r in out if r.user_id >= 0
    )
    batch = {
        (r.cohort_week, r.week_offset): r.n_active
        for r in cohort_retention_weekly(spark, SF_SMOKE).collect()
    }
    assert dict(n_active) == batch


def test_funnel_twin_on_reordered_shuffled_feed(spark, ordered_src, tmp_path):
    from flink_tornadovm_artifact_spark.queries.temporal_q import (
        funnel_conversion_events,
        funnel_conversion_stream,
    )

    out = _drain(
        funnel_conversion_stream(_read_feed(spark, ordered_src)),
        tmp_path / "fun_ckpt",
    )
    got = Counter(r.step for r in out if r.user_id >= 0)
    batch = {
        r.step: r.n_users
        for r in funnel_conversion_events(spark, SF_SMOKE).collect()
    }
    assert {s: got.get(s, 0) for s in (1, 2, 3)} == batch


def test_cdc_twin_on_reordered_shuffled_feed(spark, ordered_src, tmp_path):
    """Folding the changelog from the reordered shuffled feed must end
    at the same final visible view as the ordered-feed batch replay:
    per user, the LAST changelog row's (op, v) reflects latest-signup /
    delete-wins over the true (ts, event_id) order."""
    from flink_tornadovm_artifact_spark.queries.behavior import (
        cdc_upsert_stream,
    )

    rows = _fixture_rows(spark)
    out = _drain(
        cdc_upsert_stream(_read_feed(spark, ordered_src)),
        tmp_path / "cdc_ckpt",
    )
    final: dict = {}
    for r in out:  # append order per user == emission order
        if r.user_id >= 0:
            final[r.user_id] = (r.op, r.v)
    # ordered replay → expected final visible view
    st: dict = {}
    for r in rows:  # already (ts, event_id)-ordered
        has, v, dead = st.get(r.user_id, (False, 0.0, False))
        if r.event_type == "signup":
            has, v = True, float(r.value)
        dead = r.event_type == "error"
        st[r.user_id] = (has, v, dead)
    for u, (has, v, dead) in st.items():
        visible = None if (dead or not has) else v
        if u not in final:
            # never-visible users emit nothing
            assert visible is None, u
        elif final[u][0] == "delete":
            assert visible is None, u
        else:
            assert visible is not None and final[u][1] == visible, u


def test_twin_fails_loudly_on_out_of_order_feed(spark, tmp_path):
    """Without the reorder stage, a cross-batch ordering violation must
    RAISE (the r9 form silently miscounted): batch 2 delivers an event
    earlier than batch 1's last processed position. Checked on a
    behavior twin and on two CEP twins; the CEP twins' watermark is
    wider than the feed's gap, so Spark does not drop the older row as
    late before the state function sees it. The absence twin's first
    batch drains its pending A (the purchase follows in time), so the
    check holds only if the drained key keeps its position."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_tornadovm_artifact_spark.queries.behavior import (
        markov_transitions_stream,
    )
    from flink_tornadovm_artifact_spark.streaming import (
        cep_next_stream,
        cep_not_followed_by_stream,
    )

    t0 = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)

    def feed(name, batches):
        src = tmp_path / name
        src.mkdir()
        for i, part in enumerate(batches):
            pq.write_table(
                pa.table(
                    {
                        "ts": pa.array([r[0] for r in part], pa.timestamp("us")),
                        "user_id": pa.array([r[1] for r in part], pa.int64()),
                        "event_id": pa.array([r[2] for r in part], pa.int64()),
                        "event_type": pa.array([r[3] for r in part], pa.string()),
                    }
                ),
                str(src / f"b{i}.parquet"),
            )
            stamp_batch(src / f"b{i}.parquet", i)
        return (
            spark.readStream.schema(
                "ts timestamp, user_id long, event_id long, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    view_then_older_click = (
        [(t0 + 2 * h, 1, 2, "view")],
        [(t0 + h, 1, 1, "click")],  # older than b0
    )
    error_purchase_then_older_error = (
        [(t0, 1, 1, "error"), (t0 + h / 6, 1, 2, "purchase")],
        [(t0 - h, 1, 3, "error")],  # older than b0
    )
    twins = {
        "markov": (markov_transitions_stream, view_then_older_click),
        "cep_next": (
            lambda s: cep_next_stream(s, watermark="1 day"),
            view_then_older_click,
        ),
        "cep_not_followed_by": (
            lambda s: cep_not_followed_by_stream(s, watermark="1 day"),
            error_purchase_then_older_error,
        ),
    }
    for name, (twin, batches) in twins.items():
        with pytest.raises(Exception, match="ordering contract violated"):
            _drain(twin(feed(f"ooo_feed_{name}", batches)), tmp_path / f"ooo_ckpt_{name}")


# ---------------------------------------------------------------------------
# RocksDB provider + kill-and-restart pins for the three twins that only
# had the default-provider single-run coverage (VERDICT r9 Next 4).
# ---------------------------------------------------------------------------
def _twin_builders():
    from flink_tornadovm_artifact_spark.queries.behavior import (
        cdc_upsert_stream,
        cohort_retention_stream,
    )
    from flink_tornadovm_artifact_spark.queries.temporal_q import (
        funnel_conversion_stream,
    )

    return {
        "cohort": cohort_retention_stream,
        "funnel": funnel_conversion_stream,
        "cdc": cdc_upsert_stream,
    }


@pytest.mark.parametrize("twin", ["cohort", "funnel", "cdc"])
def test_twin_runs_on_rocksdb_state_store(spark, tmp_path, twin):
    """Each twin's (round-10) state schema must run under the 100 TB
    state-store provider (RocksDB) and emit the same rows as under the
    default provider."""
    build = _twin_builders()[twin]
    rows = _fixture_rows(spark)
    third = len(rows) // 3
    chunks = [rows[:third], rows[third : 2 * third], rows[2 * third :]]
    src = tmp_path / "feed"
    _write_feed(src, chunks)

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(key, None)

    baseline = _drain(build(_read_feed(spark, src)), tmp_path / "base_ckpt")
    spark.conf.set(key, rocks)
    try:
        emitted = _drain(build(_read_feed(spark, src)), tmp_path / "rks_ckpt")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert sorted(map(tuple, emitted)) == sorted(map(tuple, baseline))
    assert emitted, twin  # non-vacuous
    rocks_files = glob.glob(
        str(tmp_path / "rks_ckpt" / "state" / "**" / "*.zip"), recursive=True
    ) + glob.glob(
        str(tmp_path / "rks_ckpt" / "state" / "**" / "*.changelog"),
        recursive=True,
    )
    assert rocks_files, "no RocksDB snapshot artifacts under the checkpoint"


@pytest.mark.parametrize("twin", ["cohort", "funnel", "cdc"])
def test_twin_recovers_from_checkpoint(spark, tmp_path, twin):
    """Kill-and-restart durability: run over batch file 1 only, stop,
    add files 2-3, restart from the SAME checkpoint — the union of both
    runs' emissions equals a single uninterrupted run's (exactly-once
    per emission key; resumed state, not replayed)."""
    build = _twin_builders()[twin]
    rows = _fixture_rows(spark)
    third = len(rows) // 3
    chunks = [rows[:third], rows[third : 2 * third], rows[2 * third :]]

    whole = tmp_path / "whole_feed"
    _write_feed(whole, chunks)
    uninterrupted = _drain(
        build(_read_feed(spark, whole)), tmp_path / "whole_ckpt"
    )

    src = tmp_path / "grow_feed"
    _write_feed(src, chunks[:1])
    first = _drain(build(_read_feed(spark, src)), tmp_path / "grow_ckpt")
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i, part in enumerate(chunks[1:], start=1):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array([r.ts for r in part], pa.timestamp("us")),
                    "user_id": pa.array(
                        [r.user_id for r in part], pa.int64()
                    ),
                    "event_id": pa.array(
                        [r.event_id for r in part], pa.int64()
                    ),
                    "event_type": pa.array(
                        [r.event_type for r in part], pa.string()
                    ),
                    "value": pa.array([r.value for r in part], pa.float64()),
                }
            ),
            str(src / f"b{i:02d}.parquet"),
        )
        stamp_batch(src / f"b{i:02d}.parquet", i)
    second = _drain(build(_read_feed(spark, src)), tmp_path / "grow_ckpt")
    assert first, twin
    assert second, twin
    assert sorted(map(tuple, first + second)) == sorted(
        map(tuple, uninterrupted)
    )
