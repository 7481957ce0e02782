"""CEP mini-surface tests: the batch followedBy-within query and its
stateful streaming twin (reference: FT/flink-libraries/flink-cep/
CEP.java, pattern/Pattern.java — Pattern.begin("a").followedBy("b")
.within(T)).

Hand-computed expectations on a tiny fixture plus a batch-vs-stream
differential on the same rows: the two implementations are independent
(analytic window frame vs keyed NFA state), so agreement is a real
signal.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flink_tornadovm_artifact_spark.queries.cep import cep_followed_by
from flink_tornadovm_artifact_spark.streaming import (
    cep_followed_by_stream,
    memory_sink_run,
)

BASE = dt.datetime(2024, 1, 1)

#: (event_id, user_id, minute, event_type). Pattern: click → purchase
#: within 30 minutes.
FIXTURE = [
    # user 1: click@0 and click@5 both complete on purchase@20 (each A
    # matches its FIRST following B); click@40 has no B within reach
    (1, 1, 0, "click"),
    (2, 1, 5, "click"),
    (3, 1, 10, "view"),  # relaxed contiguity: ignored between A and B
    (4, 1, 20, "purchase"),
    (5, 1, 40, "click"),
    # user 2: purchase arrives 35 min after the click -> outside within()
    (6, 2, 0, "click"),
    (7, 2, 35, "purchase"),
    # user 3: B before any A never matches; the later A-B pair does
    (8, 3, 0, "purchase"),
    (9, 3, 10, "click"),
    (10, 3, 25, "purchase"),
]

#: (user_id, a_event_id, a_minute, b_minute)
EXPECTED = [(1, 1, 0, 20), (1, 2, 5, 20), (3, 9, 10, 25)]


def _minutes(ts: dt.datetime) -> int:
    return int((ts - BASE).total_seconds() // 60)


def _write(path: str, rows, mtime: int) -> None:
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "user_id": pa.array([r[1] for r in rows], pa.int64()),
                "ts": pa.array(
                    [BASE + dt.timedelta(minutes=r[2]) for r in rows],
                    pa.timestamp("us"),
                ),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
            }
        ),
        path,
    )
    os.utime(path, (mtime, mtime))


def _got(rows):
    return sorted(
        (r.user_id, r.a_event_id, _minutes(r.a_ts), _minutes(r.b_ts))
        for r in rows
    )


def test_cep_batch_hand_computed(spark, tmp_path):
    d = tmp_path / "cep_batch"
    d.mkdir()
    # batch query loads <sf_dir>/events.parquet; value/props columns are
    # not referenced, so the 4-column fixture schema suffices
    _write(str(d / "events.parquet"), FIXTURE, 1_700_000_000)
    assert _got(cep_followed_by(spark, str(d)).collect()) == EXPECTED


def test_cep_stream_matches_batch(spark, tmp_path):
    d = tmp_path / "cep_stream"
    d.mkdir()
    # split mid-pattern: user 1's purchase and user 3's whole pattern
    # arrive in the second micro-batch — pending-A state must survive
    # the batch boundary
    cut = 3
    _write(str(d / "b0.parquet"), FIXTURE[:cut], 1_700_000_000)
    _write(str(d / "b1.parquet"), FIXTURE[cut:], 1_700_000_060)
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    got = memory_sink_run(cep_followed_by_stream(stream), "cep_stream_out")
    assert _got(got.collect()) == EXPECTED


def test_cep_state_prunes_expired_partial_matches(spark, tmp_path):
    """Flink prunes partial matches past within(): an A whose deadline
    passed the key's observed event time must leave state (bounded NFA
    buffer) and never match a later B."""
    rows = [
        (1, 1, 0, "click"),
        (4, 1, 48, "click"),
        (3, 1, 50, "purchase"),  # matches click@48; click@0 expired at 30
        (5, 1, 55, "purchase"),  # nothing left pending
    ]
    d = tmp_path / "cep_prune"
    d.mkdir()
    _write(str(d / "b0.parquet"), rows, 1_700_000_000)
    stream = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp, event_type string"
    ).parquet(str(d))
    got = memory_sink_run(cep_followed_by_stream(stream), "cep_prune_out")
    assert _got(got.collect()) == [(1, 4, 48, 50)]


def test_cep_times_hand_computed(spark, tmp_path):
    """times(3).within(1 day): the 3rd-and-later click inside the
    trailing day fires; a click a day-plus later sees an emptied frame."""
    from flink_tornadovm_artifact_spark.queries.cep import cep_times

    rows = [
        (1, 1, 0, "click"),
        (2, 1, 60, "click"),
        (3, 1, 120, "view"),  # not a pattern symbol: never counted
        (4, 1, 180, "click"),   # 3rd click in window -> fires, n=3
        (5, 1, 240, "click"),   # 4th -> fires, n=4
        (6, 1, 240 + 25 * 60, "click"),  # 25h later: frame holds only itself
        (7, 2, 0, "click"),  # other key: counts are per-user
        (8, 2, 10, "click"),
    ]
    d = tmp_path / "cep_times"
    d.mkdir()
    _write(str(d / "events.parquet"), rows, 1_700_000_000)
    got = sorted(
        (r.user_id, r.a_event_id, r.n_in_window)
        for r in cep_times(spark, str(d)).collect()
    )
    assert got == [(1, 4, 3), (1, 5, 4)]


def test_cep_not_followed_by_hand_computed(spark, tmp_path):
    """notFollowedBy(purchase).within(30 min): suppressed when a purchase
    lands inside the bound, emitted when it is late or absent."""
    from flink_tornadovm_artifact_spark.queries.cep import (
        cep_not_followed_by,
    )

    rows = [
        (1, 1, 0, "error"),      # purchase@10 inside 30 min -> suppressed
        (2, 1, 10, "purchase"),
        (3, 1, 100, "error"),    # purchase@140 is 40 min out -> emitted
        (4, 1, 140, "purchase"),
        (5, 1, 200, "error"),    # no purchase ever follows -> emitted
        (6, 2, 0, "error"),      # other key's purchase must not rescue it
        (7, 3, 5, "purchase"),
    ]
    d = tmp_path / "cep_nfb"
    d.mkdir()
    _write(str(d / "events.parquet"), rows, 1_700_000_000)
    got = sorted(
        (r.user_id, r.a_event_id)
        for r in cep_not_followed_by(spark, str(d)).collect()
    )
    assert got == [(1, 3), (1, 5), (2, 6)]


def test_cep_next_hand_computed(spark, tmp_path):
    """next(): strict contiguity — ANY intervening event for the key
    breaks the match (the distinction from followedBy)."""
    from flink_tornadovm_artifact_spark.queries.cep import cep_next

    rows = [
        (1, 1, 0, "view"),
        (2, 1, 5, "purchase"),   # adjacent -> match (1, 2)
        (3, 1, 10, "view"),
        (4, 1, 15, "click"),     # intervenes
        (5, 1, 20, "purchase"),  # NOT adjacent to view@10 -> no match
        (6, 2, 0, "view"),       # stream ends for user 2 -> no match
    ]
    d = tmp_path / "cep_next"
    d.mkdir()
    _write(str(d / "events.parquet"), rows, 1_700_000_000)
    got = sorted(
        (r.user_id, r.a_event_id, r.b_event_id)
        for r in cep_next(spark, str(d)).collect()
    )
    assert got == [(1, 1, 2)]


def test_cep_times_stream_matches_batch(spark, tmp_path):
    """The times(n) stream twin replays the batch fixture split across
    micro-batches: the trailing-window state must survive the batch
    boundary and produce exactly the batch result."""
    from flink_tornadovm_artifact_spark.queries.cep import cep_times
    from flink_tornadovm_artifact_spark.streaming import (
        cep_times_stream,
        memory_sink_run,
    )

    rows = [
        (1, 1, 0, "click"),
        (2, 1, 60, "click"),
        (3, 1, 120, "view"),
        (4, 1, 180, "click"),
        (5, 1, 240, "click"),
        (6, 1, 240 + 25 * 60, "click"),
        (7, 2, 0, "click"),
        (8, 2, 10, "click"),
    ]
    d = tmp_path / "cep_times_stream"
    d.mkdir()
    _write(str(d / "events.parquet"), rows, 1_700_000_000)
    want = sorted(
        (r.user_id, r.a_event_id, r.n_in_window)
        for r in cep_times(spark, str(d)).collect()
    )

    d2 = tmp_path / "cep_times_stream2"
    d2.mkdir()
    cut = 4  # user 1's window state spans the boundary
    _write(str(d2 / "b0.parquet"), rows[:cut], 1_700_000_000)
    _write(str(d2 / "b1.parquet"), rows[cut:], 1_700_000_060)
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d2))
    )
    got = memory_sink_run(cep_times_stream(stream), "cep_times_out")
    assert (
        sorted((r.user_id, r.a_event_id, r.n_in_window) for r in got.collect())
        == want
        == [(1, 4, 3), (1, 5, 4)]
    )


def test_cep_times_stream_equal_timestamp_peers(spark, tmp_path):
    """Batch RANGE frames are value-defined: two clicks at the SAME
    timestamp are in each other's frame, so with n=3 a pair at t plus
    one earlier click fires BOTH peers with n_in_window=3. The stream
    twin must process tie groups atomically to agree."""
    from flink_tornadovm_artifact_spark.queries.cep import cep_times
    from flink_tornadovm_artifact_spark.streaming import (
        cep_times_stream,
        memory_sink_run,
    )

    rows = [
        (1, 1, 0, "click"),
        (2, 1, 60, "click"),   # same minute as event 3
        (3, 1, 60, "click"),
    ]
    d = tmp_path / "cep_ties"
    d.mkdir()
    _write(str(d / "events.parquet"), rows, 1_700_000_000)
    want = sorted(
        (r.user_id, r.a_event_id, r.n_in_window)
        for r in cep_times(spark, str(d)).collect()
    )
    assert want == [(1, 2, 3), (1, 3, 3)]  # both peers fire, same count

    stream = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp, event_type string"
    ).parquet(str(d))
    got = memory_sink_run(cep_times_stream(stream), "cep_ties_out")
    assert (
        sorted((r.user_id, r.a_event_id, r.n_in_window) for r in got.collect())
        == want
    )


def test_cep_one_or_more_hand_computed(spark, tmp_path):
    """oneOrMore().consecutive().greedy().next(B): user 1's run of 3
    clicks ends at the purchase (run_len=3); the view at minute 3
    breaks user 2's run, so only the single click after it matches;
    user 3's purchase has no preceding click."""
    from flink_tornadovm_artifact_spark.queries.cep import cep_one_or_more

    rows = [
        (1, 1, 0, "click"),
        (2, 1, 1, "click"),
        (3, 1, 2, "click"),
        (4, 1, 3, "purchase"),
        (5, 2, 0, "click"),
        (6, 2, 3, "view"),
        (7, 2, 5, "click"),
        (8, 2, 6, "purchase"),
        (9, 3, 0, "view"),
        (10, 3, 1, "purchase"),
    ]
    d = tmp_path / "cep_oom"
    d.mkdir()
    _write(str(d / "events.parquet"), rows, 1_700_000_000)
    got = sorted(
        (r.user_id, r.b_event_id, r.run_len, _minutes(r.a_first_ts))
        for r in cep_one_or_more(spark, str(d)).collect()
    )
    assert got == [(1, 4, 3, 0), (2, 8, 1, 5)]


def test_cep_one_or_more_stream_matches_batch(spark, tmp_path):
    """Differential: the stream twin's looping-run state must survive a
    micro-batch boundary that splits user 1's run mid-pattern."""
    from flink_tornadovm_artifact_spark.queries.cep import cep_one_or_more
    from flink_tornadovm_artifact_spark.streaming import (
        cep_one_or_more_stream,
        memory_sink_run,
    )

    rows = [
        (1, 1, 0, "click"),
        (2, 1, 1, "click"),
        (3, 1, 2, "click"),
        (4, 1, 3, "purchase"),
        (5, 2, 0, "click"),
        (6, 2, 3, "view"),
        (7, 2, 5, "click"),
        (8, 2, 6, "purchase"),
        (9, 3, 0, "view"),
        (10, 3, 1, "purchase"),
    ]
    d = tmp_path / "cep_oom_batchref"
    d.mkdir()
    _write(str(d / "events.parquet"), rows, 1_700_000_000)
    want = sorted(
        (r.user_id, r.b_event_id, r.run_len, _minutes(r.a_first_ts))
        for r in cep_one_or_more(spark, str(d)).collect()
    )

    d2 = tmp_path / "cep_oom_stream"
    d2.mkdir()
    cut = 2  # user 1's 3-click run spans the boundary
    _write(str(d2 / "b0.parquet"), rows[:cut], 1_700_000_000)
    _write(str(d2 / "b1.parquet"), rows[cut:], 1_700_000_060)
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d2))
    )
    got = memory_sink_run(cep_one_or_more_stream(stream), "cep_oom_out")
    assert (
        sorted(
            (r.user_id, r.b_event_id, r.run_len, _minutes(r.a_first_ts))
            for r in got.collect()
        )
        == want
    )


def test_cep_optional_hand_computed(spark, tmp_path):
    """begin(view).next(click optional).next(purchase): user 1 matches
    WITH the click, user 2 matches without (view immediately before
    purchase), user 3 has an intervening error -> no match."""
    from flink_tornadovm_artifact_spark.queries.cep import cep_optional

    rows = [
        (1, 1, 0, "view"),
        (2, 1, 1, "click"),
        (3, 1, 2, "purchase"),
        (4, 2, 0, "view"),
        (5, 2, 1, "purchase"),
        (6, 3, 0, "view"),
        (7, 3, 1, "error"),
        (8, 3, 2, "purchase"),
    ]
    d = tmp_path / "cep_opt"
    d.mkdir()
    _write(str(d / "events.parquet"), rows, 1_700_000_000)
    got = sorted(
        (r.user_id, r.b_event_id, r.view_event_id, r.click_event_id)
        for r in cep_optional(spark, str(d)).collect()
    )
    assert got == [(1, 3, 1, 2), (2, 5, 4, None)]


def test_cep_times_range_hand_computed(spark, tmp_path):
    """times(2,4): run of 1 is too short, run of 5 too long, runs of 2
    and 4 match."""
    from flink_tornadovm_artifact_spark.queries.cep import cep_times_range

    def burst(uid, n, eid0):
        rows = [(eid0 + i, uid, i, "click") for i in range(n)]
        rows.append((eid0 + n, uid, n, "purchase"))
        return rows

    rows = burst(1, 1, 100) + burst(2, 2, 200) + burst(3, 4, 300) + burst(4, 5, 400)
    d = tmp_path / "cep_range"
    d.mkdir()
    _write(str(d / "events.parquet"), rows, 1_700_000_000)
    got = sorted(
        (r.user_id, r.run_len) for r in cep_times_range(spark, str(d)).collect()
    )
    assert got == [(2, 2), (3, 4)]


def test_cep_times_range_stream_matches_batch(spark, tmp_path):
    """times(2,4) stream twin vs batch on runs of 1/2/4/5 clicks, with
    user 3's 4-click run split across the micro-batch boundary."""
    from flink_tornadovm_artifact_spark.queries.cep import cep_times_range
    from flink_tornadovm_artifact_spark.streaming import (
        cep_times_range_stream,
        memory_sink_run,
    )

    def burst(uid, n, eid0):
        rows = [(eid0 + i, uid, i, "click") for i in range(n)]
        rows.append((eid0 + n, uid, n, "purchase"))
        return rows

    rows = burst(1, 1, 100) + burst(2, 2, 200) + burst(3, 4, 300) + burst(4, 5, 400)
    d = tmp_path / "cep_range_ref"
    d.mkdir()
    _write(str(d / "events.parquet"), rows, 1_700_000_000)
    want = sorted(
        (r.user_id, r.b_event_id, r.run_len)
        for r in cep_times_range(spark, str(d)).collect()
    )

    d2 = tmp_path / "cep_range_stream"
    d2.mkdir()
    cut = len(rows) - 4  # user 4 split; user 3's run intact in batch 0
    _write(str(d2 / "b0.parquet"), rows[:cut], 1_700_000_000)
    _write(str(d2 / "b1.parquet"), rows[cut:], 1_700_000_060)
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d2))
    )
    got = memory_sink_run(cep_times_range_stream(stream), "cep_range_out")
    assert (
        sorted((r.user_id, r.b_event_id, r.run_len) for r in got.collect())
        == want
        == [(2, 202, 2), (3, 304, 4)]
    )


def test_cep_optional_stream_matches_batch(spark, tmp_path):
    """optional() stream twin vs batch: with-click, without-click, and
    broken-contiguity users; user 1's view-click-purchase spans the
    micro-batch boundary so the two-event state must carry over."""
    from flink_tornadovm_artifact_spark.queries.cep import cep_optional
    from flink_tornadovm_artifact_spark.streaming import (
        cep_optional_stream,
        memory_sink_run,
    )

    rows = [
        (1, 1, 0, "view"),
        (2, 1, 1, "click"),
        (3, 1, 2, "purchase"),
        (4, 2, 0, "view"),
        (5, 2, 1, "purchase"),
        (6, 3, 0, "view"),
        (7, 3, 1, "error"),
        (8, 3, 2, "purchase"),
    ]
    d = tmp_path / "cep_opt_ref"
    d.mkdir()
    _write(str(d / "events.parquet"), rows, 1_700_000_000)
    want = sorted(
        (r.user_id, r.b_event_id, r.view_event_id, r.click_event_id)
        for r in cep_optional(spark, str(d)).collect()
    )

    d2 = tmp_path / "cep_opt_stream"
    d2.mkdir()
    cut = 2  # user 1's pattern spans the boundary
    _write(str(d2 / "b0.parquet"), rows[:cut], 1_700_000_000)
    _write(str(d2 / "b1.parquet"), rows[cut:], 1_700_000_060)
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d2))
    )
    got = memory_sink_run(cep_optional_stream(stream), "cep_opt_out")
    assert (
        sorted(
            (r.user_id, r.b_event_id, r.view_event_id, r.click_event_id)
            for r in got.collect()
        )
        == want
        == [(1, 3, 1, 2), (2, 5, 4, None)]
    )


def _write_valued(path: str, rows, mtime: int) -> None:
    """5-column fixture: (event_id, user_id, minute, event_type, value)."""
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "user_id": pa.array([r[1] for r in rows], pa.int64()),
                "ts": pa.array(
                    [BASE + dt.timedelta(minutes=r[2]) for r in rows],
                    pa.timestamp("us"),
                ),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
            }
        ),
        path,
    )
    os.utime(path, (mtime, mtime))


#: Looping-pattern fixture for the AfterMatchSkipStrategy family:
#: user 1 has a 3-click run before its purchase, user 2 a 1-click run,
#: user 3's run is broken by a view (no match), user 4's single click
#: carries an until()-triggering value.
_SKIP_ROWS = [
    (1, 1, 0, "click", 10.0),
    (2, 1, 1, "click", 20.0),
    (3, 1, 2, "click", 130.0),  # > UNTIL_X: breaks the until() run
    (4, 1, 3, "purchase", 0.0),
    (5, 2, 0, "click", 5.0),
    (6, 2, 1, "purchase", 0.0),
    (7, 3, 0, "click", 5.0),
    (8, 3, 1, "view", 0.0),
    (9, 3, 2, "purchase", 0.0),
    (10, 4, 0, "click", 200.0),  # > UNTIL_X
    (11, 4, 1, "purchase", 0.0),
]


def test_cep_after_match_strategies_hand_computed(spark, tmp_path):
    """NO_SKIP emits every start position of user 1's 3-run (lengths
    3,2,1); SKIP_TO_LAST keeps the maximal match and the last-element
    suffix (3,1); SKIP_PAST_LAST_EVENT only the maximal — which must
    equal cep_one_or_more's per-run output."""
    import pytest

    from flink_tornadovm_artifact_spark.queries.cep import (
        cep_after_match,
        cep_one_or_more,
    )

    d = tmp_path / "cep_skip"
    d.mkdir()
    _write_valued(str(d / "events.parquet"), _SKIP_ROWS, 1_700_000_000)

    def got(strategy):
        return sorted(
            (r.user_id, r.b_event_id, r.match_len, _minutes(r.a_start_ts))
            for r in cep_after_match(spark, str(d), strategy).collect()
        )

    assert got("no_skip") == [
        (1, 4, 1, 2),
        (1, 4, 2, 1),
        (1, 4, 3, 0),
        (2, 6, 1, 0),
        (4, 11, 1, 0),
    ]
    assert got("skip_to_last") == [
        (1, 4, 1, 2),
        (1, 4, 3, 0),
        (2, 6, 1, 0),
        (4, 11, 1, 0),
    ]
    past_last = got("skip_past_last_event")
    assert past_last == [(1, 4, 3, 0), (2, 6, 1, 0), (4, 11, 1, 0)]
    # SKIP_PAST_LAST_EVENT ≡ the greedy maximal-run query
    oom = sorted(
        (r.user_id, r.b_event_id, r.run_len, _minutes(r.a_first_ts))
        for r in cep_one_or_more(spark, str(d)).collect()
    )
    assert oom == past_last
    with pytest.raises(ValueError, match="AfterMatchSkipStrategy"):
        cep_after_match(spark, str(d), "skip_sideways")


def test_cep_until_hand_computed(spark, tmp_path):
    """until(value > X) stops the loop WITHOUT consuming the trigger,
    so strict next(B) can never complete for a run containing one:
    user 1 (trigger mid-run) and user 4 (trigger is the whole run) are
    excluded; user 2's clean run still matches."""
    from flink_tornadovm_artifact_spark.queries.cep import (
        cep_one_or_more_until,
    )

    d = tmp_path / "cep_until"
    d.mkdir()
    _write_valued(str(d / "events.parquet"), _SKIP_ROWS, 1_700_000_000)
    got = sorted(
        (r.user_id, r.b_event_id, r.run_len, _minutes(r.a_first_ts))
        for r in cep_one_or_more_until(spark, str(d)).collect()
    )
    assert got == [(2, 6, 1, 0)]


def test_cep_after_match_stream_matches_batch(spark, tmp_path):
    """The skip-strategy twin's start-list state must survive a
    micro-batch boundary splitting user 1's 3-run; differential against
    the batch cep_after_match for all three strategies."""
    from flink_tornadovm_artifact_spark.queries.cep import cep_after_match
    from flink_tornadovm_artifact_spark.streaming import (
        cep_after_match_stream,
        memory_sink_run,
    )

    rows = [(r[0], r[1], r[2], r[3]) for r in _SKIP_ROWS]
    d = tmp_path / "cep_skip_batch"
    d.mkdir()
    _write(str(d / "events.parquet"), rows, 1_700_000_000)
    d2 = tmp_path / "cep_skip_stream"
    d2.mkdir()
    cut = 2  # user 1's run spans the boundary
    _write(str(d2 / "b0.parquet"), rows[:cut], 1_700_000_000)
    _write(str(d2 / "b1.parquet"), rows[cut:], 1_700_000_060)

    for strategy in ("no_skip", "skip_past_last_event", "skip_to_last"):
        want = sorted(
            (r.user_id, r.b_event_id, _minutes(r.a_start_ts), r.match_len)
            for r in cep_after_match(spark, str(d), strategy).collect()
        )
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, ts timestamp, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d2))
        )
        got = memory_sink_run(
            cep_after_match_stream(stream, strategy),
            f"cep_skip_{strategy}_out",
        )
        assert (
            sorted(
                (r.user_id, r.b_event_id, _minutes(r.a_start_ts), r.match_len)
                for r in got.collect()
            )
            == want
        ), strategy
    import pytest

    with pytest.raises(ValueError, match="AfterMatchSkipStrategy"):
        cep_after_match_stream(spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, event_type string"
        ).parquet(str(d2)), "skip_sideways")


def test_cep_until_stream_matches_batch(spark, tmp_path):
    """until() twin: the triggered bit must survive the micro-batch
    boundary (user 1's trigger arrives in batch 0, its B in batch 1)."""
    from flink_tornadovm_artifact_spark.queries.cep import (
        cep_one_or_more_until,
    )
    from flink_tornadovm_artifact_spark.streaming import (
        cep_one_or_more_until_stream,
        memory_sink_run,
    )

    d = tmp_path / "cep_until_batch"
    d.mkdir()
    _write_valued(str(d / "events.parquet"), _SKIP_ROWS, 1_700_000_000)
    want = sorted(
        (r.user_id, r.b_event_id, r.run_len, _minutes(r.a_first_ts))
        for r in cep_one_or_more_until(spark, str(d)).collect()
    )
    d2 = tmp_path / "cep_until_stream"
    d2.mkdir()
    cut = 3  # user 1's trigger (event 3) lands in batch 0, B in batch 1
    _write_valued(str(d2 / "b0.parquet"), _SKIP_ROWS[:cut], 1_700_000_000)
    _write_valued(str(d2 / "b1.parquet"), _SKIP_ROWS[cut:], 1_700_000_060)
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, "
            "event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d2))
    )
    got = memory_sink_run(
        cep_one_or_more_until_stream(stream), "cep_until_out"
    )
    assert (
        sorted(
            (r.user_id, r.b_event_id, r.run_len, _minutes(r.a_first_ts))
            for r in got.collect()
        )
        == want
        == [(2, 6, 1, 0)]
    )


def test_cep_followed_by_any_stream_matches_batch(spark, tmp_path):
    """followedByAny twin: a completed A must STAY pending and match a
    second B arriving in a later micro-batch (the behavior that
    distinguishes it from the head-match followedBy twin)."""
    from flink_tornadovm_artifact_spark.queries.cep import (
        cep_followed_by_any,
    )
    from flink_tornadovm_artifact_spark.streaming import (
        cep_followed_by_any_stream,
        memory_sink_run,
    )

    rows = [
        (1, 1, 0, "click"),
        (2, 1, 5, "purchase"),   # pairs with click@0
        (3, 1, 20, "purchase"),  # ALSO pairs with click@0 (any-match)
        (4, 1, 40, "purchase"),  # outside 30 min of click@0: no pair
        (5, 2, 0, "click"),
        (6, 2, 10, "click"),
        (7, 2, 15, "purchase"),  # pairs with BOTH pending clicks
    ]
    d = tmp_path / "cep_any_batch"
    d.mkdir()
    _write(str(d / "events.parquet"), rows, 1_700_000_000)
    want = sorted(
        (r.user_id, r.a_event_id, r.b_event_id)
        for r in cep_followed_by_any(spark, str(d)).collect()
    )
    assert want == [(1, 1, 2), (1, 1, 3), (2, 5, 7), (2, 6, 7)]

    d2 = tmp_path / "cep_any_stream"
    d2.mkdir()
    cut = 2  # click@0's SECOND purchase arrives in the next micro-batch
    _write(str(d2 / "b0.parquet"), rows[:cut], 1_700_000_000)
    _write(str(d2 / "b1.parquet"), rows[cut:], 1_700_000_060)
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d2))
    )
    got = memory_sink_run(
        cep_followed_by_any_stream(stream), "cep_any_out"
    )
    assert (
        sorted(
            (r.user_id, r.a_event_id, r.b_event_id) for r in got.collect()
        )
        == want
    )


def test_cep_next_stream_matches_batch(spark, tmp_path):
    """next/notNext twins: the one-slot previous-event state must carry
    a pending A across the micro-batch boundary; notNext differs from
    batch only on the stream-end A (documented asymmetry)."""
    from flink_tornadovm_artifact_spark.queries.cep import (
        cep_next,
        cep_not_next,
    )
    from flink_tornadovm_artifact_spark.streaming import (
        cep_next_stream,
        memory_sink_run,
    )

    rows = [
        (1, 1, 0, "view"),
        (2, 1, 1, "purchase"),  # match (next)
        (3, 1, 2, "view"),
        (4, 1, 3, "click"),     # match (notNext)
        (5, 2, 0, "view"),      # pending at stream end: batch notNext
                                # emits it, the stream twin cannot
    ]
    d = tmp_path / "cep_next_batch"
    d.mkdir()
    _write(str(d / "events.parquet"), rows, 1_700_000_000)
    want_next = sorted(
        (r.user_id, r.a_event_id, r.b_event_id)
        for r in cep_next(spark, str(d)).collect()
    )
    assert want_next == [(1, 1, 2)]
    want_not = sorted(
        (r.user_id, r.a_event_id)
        for r in cep_not_next(spark, str(d)).collect()
    )
    assert want_not == [(1, 3), (2, 5)]

    d2 = tmp_path / "cep_next_stream"
    d2.mkdir()
    cut = 1  # user 1's A and its B arrive in different micro-batches
    _write(str(d2 / "b0.parquet"), rows[:cut], 1_700_000_000)
    _write(str(d2 / "b1.parquet"), rows[cut:], 1_700_000_060)

    def stream():
        return (
            spark.readStream.schema(
                "event_id long, user_id long, ts timestamp, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d2))
        )

    got_next = memory_sink_run(cep_next_stream(stream()), "cep_next_out")
    assert (
        sorted(
            (r.user_id, r.a_event_id, r.b_event_id)
            for r in got_next.collect()
        )
        == want_next
    )
    got_not = memory_sink_run(
        cep_next_stream(stream(), negate=True), "cep_not_next_out"
    )
    # the stream twin resolves every A except event 5 (still pending)
    assert sorted(
        (r.user_id, r.a_event_id) for r in got_not.collect()
    ) == [(1, 3)]


def test_cep_not_followed_by_stream_matches_batch(spark, tmp_path):
    """Absence twin = the NFA timeout path: an A with no B must emit
    once the watermark passes its deadline (sentinel events push the
    watermark); an A whose B arrives in a LATER batch must not."""
    from flink_tornadovm_artifact_spark.queries.cep import (
        cep_not_followed_by,
    )
    from flink_tornadovm_artifact_spark.streaming import (
        cep_not_followed_by_stream,
        memory_sink_run,
    )

    rows = [
        (1, 1, 0, "error"),
        (2, 1, 20, "purchase"),   # within 30 min: matched, NO absence row
        (3, 2, 0, "error"),
        (4, 2, 45, "purchase"),   # first B too late: absence row
        (5, 3, 0, "error"),       # no B at all: absence row via watermark
        # sentinels (other type) only advance the watermark
        (6, 9, 180, "signup"),
        (7, 9, 240, "signup"),
    ]
    d = tmp_path / "cep_nf_batch"
    d.mkdir()
    _write(str(d / "events.parquet"), rows, 1_700_000_000)
    want = sorted(
        (r.user_id, r.a_event_id)
        for r in cep_not_followed_by(spark, str(d)).collect()
    )
    assert want == [(2, 3), (3, 5)]

    d2 = tmp_path / "cep_nf_stream"
    d2.mkdir()
    # split so user 1's B and the watermark-pushing sentinels arrive in
    # later batches than the pending As
    _write(str(d2 / "b0.parquet"), rows[:3], 1_700_000_000)
    _write(str(d2 / "b1.parquet"), rows[3:6], 1_700_000_060)
    _write(str(d2 / "b2.parquet"), rows[6:], 1_700_000_120)
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d2))
    )
    got = memory_sink_run(
        cep_not_followed_by_stream(stream), "cep_nf_out"
    )
    assert sorted(
        (r.user_id, r.a_event_id) for r in got.collect()
    ) == want


def test_cep_group_followed_by_stream_matches_batch(spark, tmp_path):
    """GroupPattern twin: the previous-event slot AND the group-match
    history must both survive a micro-batch boundary (user 1's second
    (view, click) pair spans it)."""
    from flink_tornadovm_artifact_spark.queries.cep import (
        cep_group_followed_by,
    )
    from flink_tornadovm_artifact_spark.streaming import (
        cep_group_followed_by_stream,
        memory_sink_run,
    )

    rows = [
        (1, 1, 0, "view"),
        (2, 1, 1, "click"),    # pair 1
        (3, 1, 10, "view"),
        (4, 1, 11, "click"),   # pair 2 → n_groups=2 fires
        (5, 2, 0, "view"),
        (6, 2, 2, "purchase"), # broken pair: purchase is not a click
        (7, 2, 3, "view"),
        (8, 2, 4, "click"),    # only pair for user 2: no fire
    ]
    d = tmp_path / "cep_grp_batch"
    d.mkdir()
    _write(str(d / "events.parquet"), rows, 1_700_000_000)
    want = sorted(
        (r.user_id, r.v_event_id, r.c_event_id, r.n_groups)
        for r in cep_group_followed_by(spark, str(d)).collect()
    )
    assert want == [(1, 3, 4, 2)]

    d2 = tmp_path / "cep_grp_stream"
    d2.mkdir()
    cut = 3  # user 1's second pair spans the boundary
    _write(str(d2 / "b0.parquet"), rows[:cut], 1_700_000_000)
    _write(str(d2 / "b1.parquet"), rows[cut:], 1_700_000_060)
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d2))
    )
    got = memory_sink_run(
        cep_group_followed_by_stream(stream), "cep_grp_out"
    )
    assert (
        sorted(
            (r.user_id, r.v_event_id, r.c_event_id, r.n_groups)
            for r in got.collect()
        )
        == want
    )


def test_cep_group_stream_equal_timestamp_peers(spark, tmp_path):
    """Two group matches whose views share an exact timestamp (two
    users' interleaved? no — same user, same µs) must each count the
    other: both emit with n_groups=2, exactly the batch RANGE frame."""
    from flink_tornadovm_artifact_spark.queries.cep import (
        cep_group_followed_by,
    )
    from flink_tornadovm_artifact_spark.streaming import (
        cep_group_followed_by_stream,
        memory_sink_run,
    )

    rows = [
        # two (view, click) pairs for user 1 whose VIEWS share minute 0
        # (event_id breaks the stream order)
        (1, 1, 0, "view"),
        (2, 1, 0, "click"),
        (3, 1, 0, "view"),
        (4, 1, 0, "click"),
    ]
    d = tmp_path / "cep_grp_peer_batch"
    d.mkdir()
    _write(str(d / "events.parquet"), rows, 1_700_000_000)
    want = sorted(
        (r.user_id, r.v_event_id, r.n_groups)
        for r in cep_group_followed_by(spark, str(d)).collect()
    )
    assert want == [(1, 1, 2), (1, 3, 2)]

    d2 = tmp_path / "cep_grp_peer_stream"
    d2.mkdir()
    _write(str(d2 / "b0.parquet"), rows, 1_700_000_000)
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, event_type string"
        )
        .parquet(str(d2))
    )
    got = memory_sink_run(
        cep_group_followed_by_stream(stream), "cep_grp_peer_out"
    )
    assert (
        sorted(
            (r.user_id, r.v_event_id, r.n_groups) for r in got.collect()
        )
        == want
    )


def test_cep_absence_emits_on_non_pattern_traffic_only(spark, tmp_path):
    """Regression: the watermark must sit BEFORE the A/B type filter —
    an error with NO purchase ever must still emit once unrelated
    traffic (signups) pushes the watermark past its deadline. With the
    filter first, these rows never reach the watermark node and the
    timeout never fires."""
    from flink_tornadovm_artifact_spark.streaming import (
        cep_not_followed_by_stream,
        memory_sink_run,
    )

    rows = [
        (1, 1, 0, "error"),
        # only non-pattern events follow — far enough to clear the
        # 30-min deadline plus the 10-min watermark delay
        (2, 9, 120, "signup"),
        (3, 9, 180, "signup"),
    ]
    d = tmp_path / "cep_nf_wm"
    d.mkdir()
    _write(str(d / "b0.parquet"), rows[:1], 1_700_000_000)
    _write(str(d / "b1.parquet"), rows[1:2], 1_700_000_060)
    _write(str(d / "b2.parquet"), rows[2:], 1_700_000_120)
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    got = memory_sink_run(
        cep_not_followed_by_stream(stream), "cep_nf_wm_out"
    )
    assert [(r.user_id, r.a_event_id) for r in got.collect()] == [(1, 1)]


def test_cep_allow_combinations_hand_computed(spark, tmp_path):
    """allowCombinations over a 4-run, full NFA semantics: NO_SKIP
    starts an attempt at every a_i and next(B) anchors the end at a_4,
    so matches are the 2^3 = 8 subsets containing a_4 (mask bit i
    selects a_(i+1)); a 1-run emits the single {a1} match."""
    from flink_tornadovm_artifact_spark.queries.cep import (
        cep_allow_combinations,
    )

    rows = [
        (1, 1, 0, "click"),
        (2, 1, 1, "click"),
        (3, 1, 2, "click"),
        (4, 1, 3, "click"),
        (5, 1, 4, "purchase"),
        (6, 2, 0, "click"),
        (7, 2, 1, "purchase"),
    ]
    d = tmp_path / "cep_comb"
    d.mkdir()
    _write(str(d / "events.parquet"), rows, 1_700_000_000)
    got = sorted(
        (r.user_id, r.b_event_id, r.run_len, r.combo_mask, r.n_matched)
        for r in cep_allow_combinations(spark, str(d)).collect()
    )
    assert got == [
        (1, 5, 4, 0, 1),  # {a4}           (start a_4)
        (1, 5, 4, 1, 2),  # {a1, a4}
        (1, 5, 4, 2, 2),  # {a2, a4}       (start a_2)
        (1, 5, 4, 3, 3),  # {a1, a2, a4}
        (1, 5, 4, 4, 2),  # {a3, a4}       (start a_3)
        (1, 5, 4, 5, 3),  # {a1, a3, a4}
        (1, 5, 4, 6, 3),  # {a2, a3, a4}
        (1, 5, 4, 7, 4),  # {a1, a2, a3, a4}
        (2, 7, 1, 0, 1),  # {a1}
    ]


def test_cep_allow_combinations_cap_single_source():
    """The stream twin's run cap must default from the batch module's
    COMB_MAX_RUN (one definition) — a hardcoded twin cap would silently
    desynchronize if the batch cap moved (round-7 ADVICE fix)."""
    import inspect

    from flink_tornadovm_artifact_spark.streaming.cep import (
        cep_allow_combinations_stream,
    )

    sig = inspect.signature(cep_allow_combinations_stream)
    assert sig.parameters["max_run"].default is None


def test_cep_allow_combinations_stream_matches_batch(spark, tmp_path):
    """Differential: the stream twin's carried run must survive a
    micro-batch boundary splitting user 1's 4-run, and the emitted
    (mask, n_matched) set must equal the batch enumeration's."""
    from flink_tornadovm_artifact_spark.queries.cep import (
        cep_allow_combinations,
    )
    from flink_tornadovm_artifact_spark.streaming import (
        cep_allow_combinations_stream,
        memory_sink_run,
    )

    rows = [
        (1, 1, 0, "click"),
        (2, 1, 1, "click"),
        (3, 1, 2, "click"),
        (4, 1, 3, "click"),
        (5, 1, 4, "purchase"),
        (6, 2, 0, "click"),
        (7, 2, 1, "purchase"),
        (8, 3, 0, "view"),
        (9, 3, 1, "purchase"),
    ]
    d = tmp_path / "cep_comb_batchref"
    d.mkdir()
    _write(str(d / "events.parquet"), rows, 1_700_000_000)
    want = sorted(
        (r.user_id, r.b_event_id, r.run_len, r.combo_mask, r.n_matched,
         _minutes(r.a_first_ts))
        for r in cep_allow_combinations(spark, str(d)).collect()
    )

    d2 = tmp_path / "cep_comb_stream"
    d2.mkdir()
    cut = 2  # user 1's 4-click run spans the boundary
    _write(str(d2 / "b0.parquet"), rows[:cut], 1_700_000_000)
    _write(str(d2 / "b1.parquet"), rows[cut:], 1_700_000_060)
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d2))
    )
    got = memory_sink_run(
        cep_allow_combinations_stream(stream), "cep_comb_out"
    )
    assert (
        sorted(
            (r.user_id, r.b_event_id, r.run_len, r.combo_mask, r.n_matched,
             _minutes(r.a_first_ts))
            for r in got.collect()
        )
        == want
    )


@pytest.mark.parametrize(
    "twin, kwargs, arg",
    [
        ("cep_times_stream", {"n": 0}, "n"),
        ("cep_times_range_stream", {"n_from": -1}, "n_from"),
        ("cep_times_range_stream", {"n_from": 5, "n_to": 4}, "n_from"),
        ("cep_allow_combinations_stream", {"max_run": 0}, "max_run"),
    ],
)
def test_cep_stream_rejects_degenerate_quantifier(twin, kwargs, arg):
    """Flink's Pattern.times rejects the same inputs; the guard raises
    before the twin touches its stream (none is passed)."""
    from flink_tornadovm_artifact_spark import streaming

    with pytest.raises(ValueError, match=f"^{arg} must"):
        getattr(streaming, twin)(None, **kwargs)
