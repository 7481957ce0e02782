"""Streaming tests: file-source micro-batch runs verified against the
equivalent batch computation on the same rows (the reference's dual-mode
comparison idea, applied stream-vs-batch)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from flink_tornadovm_artifact_spark.streaming import (
    events_file_stream,
    keyed_count_trigger,
    keyed_running_agg,
    memory_sink_run,
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)
from flink_tornadovm_artifact_spark.tables import load

from .conftest import SF_SMOKE, stamp_batch


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "events.parquet")
    return str(d)


@pytest.fixture(scope="module")
def batch_events(spark):
    return load(spark, SF_SMOKE, "events")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_tumbling_window_stream_matches_batch(spark, events_dir, batch_events):
    stream = events_file_stream(spark, events_dir)
    got = memory_sink_run(tumbling_window_agg(stream), "t_tumble", "update")
    want = (
        batch_events.groupBy(F.window("ts", "5 minutes").alias("win"), "user_id")
        .agg(
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.sum("value").alias("sum_value"),
            F.avg("value").alias("avg_value"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(F.col("win.start").alias("win_start"), "user_id", "min_value",
                "max_value", "sum_value", "avg_value", "cnt")
    )
    assert _rows(got) == _rows(want)


def test_sliding_window_stream_matches_batch(spark, events_dir, batch_events):
    stream = events_file_stream(spark, events_dir)
    got = memory_sink_run(sliding_window_agg(stream), "t_slide", "update")
    want = (
        batch_events.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sum_value"))
        .select(F.col("win.start").alias("win_start"), "cnt", "sum_value")
    )
    assert _rows(got) == _rows(want)


def test_session_window_stream_matches_batch(spark, events_dir, batch_events):
    stream = events_file_stream(spark, events_dir)
    # session windows support only append/complete output; complete emits
    # the full final state for a single micro-batch
    got = memory_sink_run(session_window_agg(stream), "t_sess", "complete")
    want = (
        batch_events.groupBy(
            F.session_window("ts", "30 minutes").alias("win"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sum_value"))
        .select(F.col("win.start").alias("sess_start"), "user_id", "cnt", "sum_value")
    )
    assert _rows(got) == _rows(want)


def test_keyed_running_agg_update_mode(spark, events_dir, batch_events):
    stream = events_file_stream(spark, events_dir)
    got = memory_sink_run(keyed_running_agg(stream), "t_running", "update")
    # update mode emits the latest row per key; with one micro-batch the
    # final state equals the batch aggregate
    want = batch_events.groupBy("user_id").agg(
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.sum("value").alias("sum_value"),
        F.count(F.lit(1)).alias("cnt"),
    )
    assert _rows(got) == _rows(want)


def test_keyed_count_trigger_state(spark, events_dir, batch_events):
    stream = events_file_stream(spark, events_dir)
    got = memory_sink_run(keyed_count_trigger(stream, n=10), "t_trigger")
    rows = got.collect()
    assert all(r.cnt == 10 for r in rows)
    # per key: floor(total/10) fired blocks
    want = (
        batch_events.groupBy("user_id")
        .agg(F.floor(F.count(F.lit(1)) / 10).alias("blocks"))
        .collect()
    )
    want_blocks = {r.user_id: r.blocks for r in want}
    got_blocks: dict[int, int] = {}
    for r in rows:
        got_blocks[r.user_id] = got_blocks.get(r.user_id, 0) + 1
    assert got_blocks == {k: v for k, v in want_blocks.items() if v > 0}


def test_split_stream_side_outputs(spark, events_dir, batch_events):
    from flink_tornadovm_artifact_spark.streaming import split_stream

    stream = events_file_stream(spark, events_dir)
    hot, cold = split_stream(stream, F.col("value") > 0)
    got_hot = memory_sink_run(hot, "t_split_hot")
    got_cold = memory_sink_run(cold, "t_split_cold")
    n_hot = batch_events.filter(F.col("value") > 0).count()
    assert got_hot.count() == n_hot
    assert got_cold.count() == batch_events.count() - n_hot


def test_connect_with_control_broadcast_join(spark, events_dir, batch_events):
    from flink_tornadovm_artifact_spark.streaming import connect_with_control

    control = spark.createDataFrame(
        [("click", 2.0), ("view", 0.5)], "event_type string, weight double"
    )
    stream = events_file_stream(spark, events_dir)
    got = memory_sink_run(connect_with_control(stream, control), "t_connect")
    want = batch_events.join(F.broadcast(control), "event_type", "left")
    assert got.count() == batch_events.count()
    assert (
        got.filter(F.col("weight").isNull()).count()
        == want.filter(F.col("weight").isNull()).count()
    )


def test_interval_join_streams_matches_batch_q22_shape(
    spark, events_dir, batch_events
):
    from flink_tornadovm_artifact_spark.streaming import interval_join_streams

    stream = events_file_stream(spark, events_dir)
    got = memory_sink_run(
        interval_join_streams(stream, stream, bound="5 minutes"),
        "t_ivl",
    ).filter(F.col("left_id") < F.col("right_id"))
    ev = batch_events.select("event_id", "user_id", "ts")
    a, b = ev.alias("a"), ev.alias("b")
    want = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") >= F.col("a.ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 5 MINUTES"))
        & (F.col("a.event_id") < F.col("b.event_id")),
    )
    assert got.count() == want.count()


def test_windowed_join_streams_matches_batch(spark, events_dir, batch_events):
    from flink_tornadovm_artifact_spark.streaming import windowed_join_streams

    stream = events_file_stream(spark, events_dir)
    got = memory_sink_run(
        windowed_join_streams(stream, stream, size="10 minutes"),
        "t_winjoin",
    ).filter(F.col("left_id") < F.col("right_id"))
    ev = batch_events.select(
        "event_id", "user_id", "ts", F.window("ts", "10 minutes").alias("win")
    )
    a, b = ev.alias("a"), ev.alias("b")
    want = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.win") == F.col("b.win"))
        & (F.col("a.event_id") < F.col("b.event_id")),
    )
    assert got.count() == want.count()


def test_windowed_cogroup_matches_batch(spark, events_dir, batch_events):
    from flink_tornadovm_artifact_spark.streaming import windowed_cogroup

    clicks = events_file_stream(spark, events_dir).filter(
        F.col("event_type") == "click"
    )
    views = events_file_stream(spark, events_dir).filter(
        F.col("event_type") == "view"
    )
    # update mode: the final window (never closed by the watermark at
    # end-of-stream) still emits its latest state
    got = memory_sink_run(
        windowed_cogroup(clicks, views, size="10 minutes"), "t_cogrp", "update"
    )
    want = (
        batch_events.filter(F.col("event_type").isin("click", "view"))
        .groupBy(F.window("ts", "10 minutes").alias("win"), "user_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(F.col("event_type") == "click", F.col("value"))
                )
            ).alias("left_vals"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("event_type") == "view", F.col("value"))
                )
            ).alias("right_vals"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "user_id",
            "left_vals",
            "right_vals",
        )
    )
    got_rows = sorted((r[0], r[1], tuple(r[2]), tuple(r[3])) for r in got.collect())
    want_rows = sorted((r[0], r[1], tuple(r[2]), tuple(r[3])) for r in want.collect())
    assert got_rows == want_rows
    # full-outer pairing: some windows must have one empty side
    assert any(not r[2] or not r[3] for r in got_rows)


def test_deduplicate_stream(spark, events_dir, batch_events):
    from flink_tornadovm_artifact_spark.streaming import deduplicate_stream

    stream = events_file_stream(spark, events_dir)
    got = memory_sink_run(
        deduplicate_stream(stream, ["user_id"]), "t_dedup"
    )
    want = batch_events.dropDuplicates(["user_id", "ts"])
    assert got.count() == want.count()


def test_watermark_drops_late_rows_across_microbatches(spark, tmp_path):
    """True late-data policy check: a row older than the watermark arriving
    in a LATER micro-batch is dropped from the windowed aggregate
    (allowedLateness semantics, WindowedStream.java:158)."""

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "wm_events"
    d.mkdir()

    def write_batch(name, rows):
        # (event_id, minutes, user_id) → EVENTS_SCHEMA with nanos ts
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [int(r[1] * 60e9) for r in rows], pa.int64()
                ),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["t"] * len(rows)),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, d / name)

    # batch 1: window [0,10) has 2 rows; watermark advances to 25 min
    write_batch("b1.parquet", [(1, 0.0, 7), (2, 9.0, 7), (3, 30.0, 7)])
    stamp_batch(d / "b1.parquet", 1)  # mtime-ordered triggers
    # batch 2: fresh row only — [0,10) state emits and EVICTS this batch
    # (Spark only guarantees the drop after eviction; a late row arriving
    # in the same batch as the eviction still merges)
    write_batch("b2.parquet", [(4, 50.0, 7)])
    stamp_batch(d / "b2.parquet", 2)
    # batch 3: the very-late row for the already-evicted [0,10) window,
    # plus a fresh row to finalize remaining windows
    write_batch("b3.parquet", [(5, 2.0, 7), (6, 70.0, 7)])
    stamp_batch(d / "b3.parquet", 3)

    stream = events_file_stream(spark, str(d), max_files_per_trigger=1)
    got = memory_sink_run(
        tumbling_window_agg(stream, size="10 minutes", watermark="5 minutes"),
        "t_late",
        "append",
    )
    counts = {r["win_start"].minute: r["cnt"] for r in got.collect()}
    # the [0,10) window finalized WITHOUT the late event_id=5
    assert counts[0] == 2, counts
    # and the late row did not resurrect the window as a duplicate emit
    assert sum(1 for r in got.collect() if r["win_start"].minute == 0) == 1


def test_keyed_process_timeout_fires_on_watermark(spark, tmp_path):
    """Event-time timer semantics (KeyedProcessFunction
    registerEventTimeTimer): a key's session flushes only after the
    watermark passes its last event + gap with no new input."""

    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_tornadovm_artifact_spark.streaming import keyed_process_timeout

    d = tmp_path / "timer_events"
    d.mkdir()

    def write_batch(name, rows):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([int(r[1] * 60e9) for r in rows], pa.int64()),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["t"] * len(rows)),
                "value": pa.array([float(r[3]) for r in rows]),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, d / name)

    # batch 1: user 7 active at minutes 100 and 105 (values 1, 2).
    # NB: minute 0 would equal the INITIAL watermark (epoch 0) and
    # applyInPandasWithState drops not-after-watermark rows as late.
    write_batch("b1.parquet", [(1, 100.0, 7, 1.0), (2, 105.0, 7, 2.0)])
    stamp_batch(d / "b1.parquet", 1)
    # batch 2: user 9 at minute 160 → watermark advances to 150, past
    # user 7's timer at minute 105 + 10 = 115 → user 7's session flushes
    write_batch("b2.parquet", [(3, 160.0, 9, 5.0)])
    stamp_batch(d / "b2.parquet", 2)
    # batch 3: push the watermark again so batch 2's advance is applied
    write_batch("b3.parquet", [(4, 170.0, 9, 6.0)])
    stamp_batch(d / "b3.parquet", 3)

    stream = events_file_stream(spark, str(d), max_files_per_trigger=1)
    got = memory_sink_run(
        keyed_process_timeout(stream, gap="10 minutes", watermark="10 minutes"),
        "t_timer",
        "append",
    )
    rows = {r["user_id"]: r for r in got.collect()}
    # user 7's timer fired: one session row with both events
    assert 7 in rows, rows
    assert rows[7]["cnt"] == 2 and rows[7]["sum_value"] == 3.0
    assert (rows[7]["sess_start"].hour, rows[7]["sess_start"].minute) == (1, 40)
    assert (rows[7]["sess_end"].hour, rows[7]["sess_end"].minute) == (1, 45)
    # user 9's timer never fired (watermark ends at 160 < 170+10)
    assert 9 not in rows


def test_ingestion_time_stamped_and_usable(spark, events_dir, batch_events):
    """Ingestion-time characteristic: every row gets a non-null source
    timestamp usable as a time column."""
    from flink_tornadovm_artifact_spark.streaming import with_ingestion_time

    stream = with_ingestion_time(events_file_stream(spark, events_dir))
    got = memory_sink_run(stream, "t_ingest")
    assert got.count() == batch_events.count()
    assert got.filter(F.col("ingest_ts").isNull()).count() == 0
    # all rows of the single micro-batch share one ingest timestamp
    assert got.select("ingest_ts").distinct().count() == 1


def test_read_keyed_state_from_checkpoint(spark, tmp_path):
    """State-processor-API analog (flink-state-processing-api
    Savepoint.load → readKeyedState): a stopped query's keyed aggregate
    state is readable offline from the checkpoint, and batchId
    time-travels to an earlier micro-batch's state."""

    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_tornadovm_artifact_spark.streaming import read_keyed_state

    src = tmp_path / "sp_in"
    src.mkdir()
    ckpt = str(tmp_path / "sp_ckpt")

    def write(name, rows):  # (user_id, value)
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array([r[0] for r in rows], pa.int64()),
                    "value": pa.array([r[1] for r in rows], pa.float64()),
                }
            ),
            src / name,
        )

    write("b0.parquet", [(1, 1.0), (1, 2.0), (2, 10.0)])
    stamp_batch(src / "b0.parquet", 0)  # mtime-ordered triggers
    write("b1.parquet", [(2, 20.0), (3, 5.0)])
    stamp_batch(src / "b1.parquet", 1)

    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sum_value")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sp_state_q")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    latest = {
        r.key_user_id: (r.value_count, r.value_sum)
        for r in read_keyed_state(spark, ckpt).collect()
    }
    assert latest == {1: (2, 3.0), 2: (2, 30.0), 3: (1, 5.0)}

    # time travel: after only the first micro-batch, user 3 is absent
    # and user 2 has one row
    first = {
        r.key_user_id: (r.value_count, r.value_sum)
        for r in read_keyed_state(spark, ckpt, batch_id=0).collect()
    }
    assert first == {1: (2, 3.0), 2: (1, 10.0)}


def test_events_file_stream_starts_on_empty_directory(spark, tmp_path):
    """The file-monitor source must start watching an EMPTY landing
    directory (files appear later) — the schema probe cannot require an
    existing file."""
    d = tmp_path / "empty_landing"
    d.mkdir()
    stream = events_file_stream(spark, str(d))
    assert stream.isStreaming
    assert dict(stream.dtypes)["ts"].startswith("timestamp")


def test_writable_savepoint_analog_bootstraps_state(spark, tmp_path):
    """WritableSavepoint analog: batch-built keyed state seeds a
    stateful stream via tagged init rows — keys with live traffic
    continue FROM the bootstrapped value, bootstrap-only keys surface
    with their seeded state, fresh keys start from zero."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from flink_tornadovm_artifact_spark.streaming.savepoint import (
        bootstrap_union,
        write_keyed_state,
    )

    boot_path = str(tmp_path / "savepoint")
    write_keyed_state(
        spark.createDataFrame(
            [(1, 100.0), (2, 200.0)], "user_id long, value double"
        ),
        boot_path,
    )

    live_dir = tmp_path / "live"
    live_dir.mkdir()
    pq.write_table(
        pa.table(
            {
                "user_id": pa.array([1, 1, 3], pa.int64()),
                "ts": pa.array(
                    [1_700_000_000_000_000 + i for i in range(3)],
                    pa.timestamp("us"),
                ),
                "value": pa.array([5.0, 7.0, 1.0], pa.float64()),
            }
        ),
        str(live_dir / "b0.parquet"),
    )
    live = spark.readStream.schema(
        "user_id long, ts timestamp, value double"
    ).parquet(str(live_dir))
    unioned = bootstrap_union(
        spark, live, boot_path, "user_id long, value double"
    )

    def running_sum(key, pdfs, state: GroupState):
        total = float(state.get[0]) if state.exists else 0.0
        rows = pd.concat([p for p in pdfs if len(p)], ignore_index=True)
        # init rows first — the KeyedStateBootstrapFunction ordering
        rows = rows.sort_values("__init", ascending=False)
        for v, is_init in zip(rows["value"], rows["__init"]):
            total = float(v) if is_init else total + float(v)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "total": [total]})

    out = (
        unioned.groupBy("user_id")
        .applyInPandasWithState(
            running_sum,
            outputStructType="user_id long, total double",
            stateStructType="total double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    from flink_tornadovm_artifact_spark.streaming import memory_sink_run

    got = {
        r.user_id: r.total
        for r in memory_sink_run(out, "bootstrap_out").collect()
    }
    assert got == {1: 112.0, 2: 200.0, 3: 1.0}


def test_statestore_queryable_state_live_lookup(spark, tmp_path):
    """asQueryableState served from the engine's own store: point
    lookups against a RUNNING query's checkpoint reflect each committed
    micro-batch without any side sink, and an unseen key returns None.
    (QueryableStateClient visibility = last completed checkpoint.)"""

    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_tornadovm_artifact_spark.streaming import (
        StateStoreQueryableState,
    )

    src = tmp_path / "qs_in"
    src.mkdir()
    ckpt = str(tmp_path / "qs_ckpt")

    def write(name, rows):  # (user_id, value)
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array([r[0] for r in rows], pa.int64()),
                    "value": pa.array([r[1] for r in rows], pa.float64()),
                }
            ),
            src / name,
        )

    write("b0.parquet", [(1, 1.0), (1, 2.0), (2, 10.0)])
    stamp_batch(src / "b0.parquet", 0)
    agg = (
        spark.readStream.schema("user_id long, value double")
        .parquet(str(src))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sum_value"))
    )
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("qs_live_q")
        .option("checkpointLocation", ckpt)
        .start()
    )
    qs = StateStoreQueryableState(spark, ckpt)
    try:
        q.processAllAvailable()
        # lookup WHILE the query is still running
        assert qs.get(user_id=1) == {"count": 2, "sum": 3.0}
        assert qs.get(user_id=3) is None
        write("b1.parquet", [(1, 4.0), (3, 5.0)])
        stamp_batch(src / "b1.parquet", 1)
        q.processAllAvailable()
        assert qs.get(user_id=1) == {"count": 3, "sum": 7.0}
        assert qs.get(user_id=3) == {"count": 1, "sum": 5.0}
        # the full snapshot is a partitioned scan, not a driver map
        assert qs.snapshot().count() == 3
        # partial/unknown keys are rejected UP FRONT (round-7 ADVICE
        # fix): a partial key matching one row must not silently read
        # an arbitrary key's state
        with pytest.raises(ValueError, match="missing"):
            qs.get()
        with pytest.raises(ValueError, match="unknown"):
            qs.get(user_id=1, bogus=2)
    finally:
        q.stop()
