"""Per-key event-time order for the keyed streaming twins.

Sixteen twins run a per-user state machine over an events stream: the
twelve CEP twins in ``streaming/cep.py``, ``markov_transitions_stream``,
``cohort_retention_stream`` and ``cdc_upsert_stream`` in
``queries/behavior.py``, and ``funnel_conversion_stream`` in
``queries/temporal_q.py``. Their transitions (chaining, first hits,
latest wins, pattern runs and windows) are order-sensitive, so this
module owns their ordering contract twice over:

- ``keyed_fold`` is the one driver every twin runs on. It sorts each
  key's micro-batch, enforces the contract across batches (stated in
  its docstring) and owns the state and timeout lifecycle; a twin is a
  projection plus a fold.
- ``ordered_events_stream`` provides the contract for a feed that does
  not: a reorder stage that buffers each key's events in keyed state and
  releases them in (ts, event_id) order once the event-time watermark
  has passed them — the same buffered sort a Flink
  ``KeyedProcessFunction`` implements with a MapState + event-time
  timers (reference idiom: FT flink-streaming-java .../functions/
  KeyedProcessFunction.java registering timers per buffered timestamp).
  A replayable per-key-ordered log (a log-compacted Kafka topic, a
  sorted file feed) needs no such stage.

Reorder-stage semantics (standard watermark completeness, identical to
every append-mode windowed aggregate in Structured Streaming):

- every emitted row satisfies ``ts <= watermark`` at emission time, and
  per key the emission order is globally (ts, event_id)-ascending —
  late rows older than the watermark were already dropped by Spark
  before reaching the stage, and everything between the previous and
  the current watermark is in the buffer when it flushes;
- rows newer than the current watermark stay in state until the
  watermark passes them; a stalled watermark (end of a bounded replay)
  leaves the tail buffered, exactly as an open session window would.
  Advance the watermark (any newer event on any key — the watermark is
  global) to flush.

Scale: per-key state is bounded by ``delay`` × the key's event rate
(a time bound, not a stream-length bound — the same boundedness class
as a sliding-window aggregate); the stage adds one shuffle on the key.
Structured Streaming runs one ``applyInPandasWithState`` per query, so
a twin consumes the stage's output as a durable per-key-ordered log
(tests/test_stream_order.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["keyed_fold", "ordered_events_stream"]

#: feed columns every twin consumes, in contract order
_BASE_COLS = ("ts", "user_id", "event_id", "event_type")


def keyed_fold(
    events: DataFrame,
    fold,
    state_schema: str,
    init: tuple,
    out_schema: str,
    deadlines: bool = False,
) -> DataFrame:
    """Run ``fold`` per ``user_id`` over an events STREAM (columns ts,
    user_id, event_id and whatever the fold reads) as one
    ``groupBy("user_id").applyInPandasWithState`` in append mode.

    ``fold(state, rows, watermark_us) -> (state or None, out_rows,
    deadline_us or None)``. ``state`` is the tuple of the fields in
    ``state_schema`` (``init`` for a new key). ``rows`` is the key's
    micro-batch, sorted by (ts, event_id), with ``ts`` as µs since the
    epoch; it is None on a timeout call. ``out_rows`` are tuples in
    ``out_schema`` order; the driver puts ``user_id`` first and turns
    the µs values of timestamp columns into timestamps. A returned
    state of None drops the key's state. With ``deadlines`` the query
    runs under event-time timeouts: ``watermark_us`` is the current
    watermark (else None), and a returned ``deadline_us`` calls the
    fold again, with ``rows=None``, once the watermark passes it.

    Ordering contract: each key's feed arrives in (ts, event_id) order
    across micro-batches. Within a batch the order is free: Spark hands
    a key's batch as Arrow chunks in no time order, and the driver
    sorts the whole batch once. Across batches, the state ends with the
    key's position ``last_ts_us, last_eid`` (the last event it folded),
    and a batch whose first event is not past that position raises
    ``ValueError``, which fails the query, rather than fold events out
    of order. A log-compacted topic or a sorted replay meets the
    contract; for any other feed, run ``ordered_events_stream``
    upstream. Under ``deadlines``, a key whose fold drops its state
    keeps its position, with an empty fold state, until the watermark
    passes it, and is dropped then: past that point Spark discards
    older events as late before they reach the fold. Without deadlines
    nothing would ever clean such an entry up, so a dropped key starts
    afresh, with no position to check against.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    cols = [c.split() for c in out_schema.split(",")]

    def run(key, pdfs, state: GroupState):
        if state.exists:
            *acc, last_ts, last_eid = state.get
        else:
            acc, last_ts, last_eid = init, -1, -1
        rows = None
        if not state.hasTimedOut:
            parts = [p for p in pdfs if len(p)]
            if not parts:
                return
            rows = pd.concat(parts, ignore_index=True).sort_values(
                ["ts", "event_id"], ignore_index=True
            )
            rows["ts"] = rows["ts"].astype("int64") // 1_000
            first = (int(rows["ts"].iloc[0]), int(rows["event_id"].iloc[0]))
            if last_eid >= 0 and first <= (last_ts, last_eid):
                raise ValueError(
                    f"streaming-twin ordering contract violated for key "
                    f"{key}: batch starts at (ts_us, event_id)={first} but "
                    f"state is already past ({last_ts}, {last_eid}); feed "
                    "this twin a per-key event-time-ordered stream "
                    "(compose streaming.order.ordered_events_stream "
                    "upstream)"
                )
            last_ts = int(rows["ts"].iloc[-1])
            last_eid = int(rows["event_id"].iloc[-1])
        wm_us = state.getCurrentWatermarkMs() * 1_000 if deadlines else None
        acc, out, deadline_us = fold(tuple(acc), rows, wm_us)
        if acc is None and deadlines and last_eid >= 0 and last_ts >= wm_us:
            # keep a drained key's position until the watermark passes
            # it; from then on Spark drops older events as late
            acc, deadline_us = init, last_ts
        if acc is not None:
            state.update((*acc, last_ts, last_eid))
            if deadline_us is not None:
                state.setTimeoutTimestamp(deadline_us // 1_000 + 1)
        elif state.exists:
            state.remove()
        if out:
            frame = {"user_id": [key[0]] * len(out)}
            for i, (name, typ) in enumerate(cols):
                vals = [o[i] for o in out]
                if typ == "timestamp":
                    vals = pd.to_datetime(vals, unit="us")
                elif typ == "long":
                    vals = pd.array(vals, dtype="Int64")
                frame[name] = vals
            yield pd.DataFrame(frame)

    return events.groupBy("user_id").applyInPandasWithState(
        run,
        outputStructType="user_id long, " + out_schema,
        stateStructType=f"{state_schema}, last_ts_us long, last_eid long",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if deadlines
            else GroupStateTimeout.NoTimeout
        ),
    )


def ordered_events_stream(
    events_stream: DataFrame,
    delay: str = "1 hour",
    with_value: bool = False,
) -> DataFrame:
    """Reorder an events STREAM with columns (ts timestamp, user_id long,
    event_id long, event_type string[, value double]) into per-user
    (ts, event_id) order, releasing rows once the event-time watermark
    (``delay`` behind the observed max ts) has passed them. Run it
    upstream of a twin, through a durable log, when the feed is not
    already per-key ordered."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    cols = _BASE_COLS + (("value",) if with_value else ())
    out_schema = (
        "ts timestamp, user_id long, event_id long, event_type string"
        + (", value double" if with_value else "")
    )
    state_schema = (
        "ts_us array<long>, eid array<long>, et array<string>"
        + (", val array<double>" if with_value else "")
    )

    def reorder(key, pdfs, state: GroupState):
        buf = list(zip(*state.get)) if state.exists else []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            us = pdf["ts"].astype("int64") // 1_000
            vals = pdf["value"] if with_value else us  # placeholder iter
            for t, e, et, v in zip(us, pdf["event_id"], pdf["event_type"], vals):
                row = (int(t), int(e), et) + (
                    (float(v),) if with_value else ()
                )
                buf.append(row)
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1_000
        buf.sort(key=lambda r: (r[0], r[1]))
        n_ready = 0
        while n_ready < len(buf) and buf[n_ready][0] <= wm_us:
            n_ready += 1
        ready, rest = buf[:n_ready], buf[n_ready:]
        if rest:
            state.update(tuple(list(c) for c in zip(*rest)))
            # the Flink event-time-timer analog: a key with a pending
            # buffer must be re-invoked when the watermark passes its
            # earliest event even if no new rows arrive for the key —
            # applyInPandasWithState only calls keys present in a batch,
            # so the flush is driven by an event-time TIMEOUT pinned at
            # the earliest buffered timestamp (strictly above the
            # current watermark, as the API requires).
            state.setTimeoutTimestamp(max(rest[0][0] // 1_000, wm_ms + 1))
        elif state.exists:
            state.remove()
        if ready:
            out = {
                "ts": [pd.Timestamp(r[0], unit="us") for r in ready],
                "user_id": [key[0]] * len(ready),
                "event_id": [r[1] for r in ready],
                "event_type": [r[2] for r in ready],
            }
            if with_value:
                out["value"] = [r[3] for r in ready]
            yield pd.DataFrame(out)

    return (
        events_stream.select(*cols)
        .withWatermark("ts", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            reorder,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
