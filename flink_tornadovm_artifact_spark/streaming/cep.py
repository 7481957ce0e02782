"""CEP streaming twin: "A followedBy B within T per key" over a stream.

The stateful mirror of ``queries/cep.py`` — the Spark analog of running
``CEP.pattern(keyedStream, Pattern.begin("a").followedBy("b").within(T))``
(``FT/flink-libraries/flink-cep/.../CEP.java``). Flink's NFA keeps, per
key, the set of partial matches (here: pending A events) and completes a
match when B arrives inside the time constraint; partial matches past
their deadline are pruned on watermark advance. Each twin here is an
input projection plus a fold run by ``streaming.order.keyed_fold``,
which applies elements in (ts, event_id) order under the ordering
contract stated there. For ``cep_followed_by_stream``:

- keyed state = pending (a_event_id, a_ts) partial matches;
- a B event completes EVERY pending A within ``T`` — each completed A is
  removed, so each A emits at most once (first-B semantics, identical to
  the batch form's min-over-following-frame);
- pending As whose deadline (a_ts + T) has passed the key's latest
  event time are pruned — they can never complete on an in-order stream;
  state per key is therefore bounded by the number of As inside one T
  span, the same bound as Flink's NFA partial-match buffer.

Scale note: state is per-key and O(As within T); the shuffle is one
exchange on the key column — the same topology Flink's keyBy gives the
CEP operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .core import _interval_ms
from .order import keyed_fold

_COLS = ("user_id", "event_id", "ts", "event_type")


def _split(pending):
    """The (ids, timestamps) state columns of (id, ts) pairs."""
    return [p[0] for p in pending], [p[1] for p in pending]


def _events(rows, *extra):
    """(event_id, ts_us, event_type, *extra) per row, as Python values."""
    return zip(
        rows["event_id"].tolist(),
        rows["ts"].tolist(),
        rows["event_type"].tolist(),
        *(rows[c].tolist() for c in extra),
    )


def cep_followed_by_stream(
    events: DataFrame,
    a_type: str = "click",
    b_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Emit one row per completed (A, first B) match: ``user_id,
    a_event_id, a_ts, b_ts``. ``events`` needs columns event_id, user_id,
    ts, event_type."""
    within_us = _interval_ms(within) * 1000

    def fold(state, rows, _wm):
        if rows is None:
            return None, [], None
        pending = list(zip(*state))
        out = []  # (a_event_id, a_ts, b_ts)
        # full µs precision: the batch twin compares at µs, and a ms
        # truncation would accept pairs sitting within 1 ms past the
        # within() bound
        for eid, t, typ in _events(rows):
            if typ == a_type:
                pending.append((eid, t))
            elif typ == b_type:
                out.extend((aid, ats, t) for aid, ats in pending
                           if ats + within_us >= t)
                pending = [p for p in pending if p[1] + within_us < t]
        # prune partial matches that can no longer complete in order
        last = rows["ts"].iloc[-1]
        pending = [p for p in pending if p[1] + within_us >= last]
        # state lives while the key can still complete a match; the
        # watermark passing the last deadline cleans it up
        return _split(pending), out, int(last) + within_us

    keyed = (
        events.filter(F.col("event_type").isin(a_type, b_type))
        .withWatermark("ts", watermark)
        .select(*_COLS)
    )
    return keyed_fold(
        keyed,
        fold,
        "a_ids array<long>, a_ts_us array<long>",
        ([], []),
        "a_event_id long, a_ts timestamp, b_ts timestamp",
        deadlines=True,
    )


def cep_times_stream(
    events: DataFrame,
    a_type: str = "click",
    n: int = 3,
    within: str = "1 day",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``queries/cep.py:cep_times`` — the
    ``Pattern.begin("a").times(n).within(T)`` count quantifier. Keyed
    state is the trailing-T window of A timestamps (Flink's NFA keeps
    the same partial-match buffer for a times() pattern); each arriving
    A first evicts expired entries, then joins the window, and emits
    when it is the n-th-or-later element — exactly the batch form's
    inclusive RANGE frame [t - T, t].

    State per key is bounded by the As inside one T span; cleanup uses
    the same deadline timeout as ``cep_followed_by_stream``. ``n < 1``
    raises ``ValueError``, as Flink's ``Pattern.times`` does.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    within_us = _interval_ms(within) * 1000

    def fold(state, rows, _wm):
        if rows is None:
            return None, [], None
        window = [int(t) for t in state[0]]
        out = []  # (a_event_id, a_ts, n_in_window)
        # process same-timestamp events as ONE group: the batch RANGE
        # frame is value-defined, so every peer at time t sees ALL peers
        # at t in its frame — counting one-by-one would give the earlier
        # peers a smaller count
        for t, grp in rows.groupby("ts", sort=True):
            t = int(t)
            window = [w for w in window if w >= t - within_us]
            window.extend([t] * len(grp))
            if len(window) >= n:
                out.extend((eid, t, len(window))
                           for eid in grp["event_id"].tolist())
        return (window,), out, int(rows["ts"].iloc[-1]) + within_us

    keyed = (
        events.filter(F.col("event_type") == a_type)
        .withWatermark("ts", watermark)
        .select("user_id", "event_id", "ts")
    )
    return keyed_fold(
        keyed,
        fold,
        "win_ts_us array<long>",
        ([],),
        "a_event_id long, a_ts timestamp, n_in_window long",
        deadlines=True,
    )


def cep_one_or_more_stream(
    events: DataFrame,
    a_type: str = "click",
    b_type: str = "purchase",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``queries/cep.py:cep_one_or_more`` — the
    ``begin(A).oneOrMore().consecutive().greedy().next(B)`` looping
    quantifier. Keyed state is the NFA's looping-state summary: the
    trailing run of consecutive A events (length + first timestamp).
    Any non-A event resets it (strict contiguity); a B with a non-empty
    run emits one match carrying the full run — the greedy collapse of
    the reference's per-prefix match set.

    The pattern has no within() bound, so state never expires on a
    deadline — it is O(1) per key, the degenerate best case of Flink's
    NFA buffer. Processes the FULL event stream (every type can break a
    run).
    """

    def fold(state, rows, _wm):
        run_len, first_ts = state
        out = []  # (b_event_id, b_ts, a_first_ts, run_len)
        for eid, t, typ in _events(rows):
            if typ == a_type:
                if run_len == 0:
                    first_ts = t
                run_len += 1
            else:
                if typ == b_type and run_len >= 1:
                    out.append((eid, t, first_ts, run_len))
                run_len, first_ts = 0, 0
        return (run_len, first_ts), out, None

    keyed = events.withWatermark("ts", watermark).select(*_COLS)
    return keyed_fold(
        keyed,
        fold,
        "run_len long, first_ts_us long",
        (0, 0),
        "b_event_id long, b_ts timestamp, a_first_ts timestamp, "
        "run_len long",
    )


def cep_times_range_stream(
    events: DataFrame,
    a_type: str = "click",
    b_type: str = "purchase",
    n_from: int = 2,
    n_to: int = 4,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``queries/cep.py:cep_times_range`` — the
    ``times(from, to).consecutive().greedy().next(B)`` bounded-range
    quantifier: ``cep_one_or_more_stream``'s matches whose run length is
    in [n_from, n_to] (the NFA's accepting condition), as the batch form
    filters ``cep_one_or_more``. ``n_from < 0`` or ``n_from > n_to``
    raises ``ValueError``, as Flink's ``Pattern.times`` does.
    """
    if n_from < 0:
        raise ValueError(f"n_from must be >= 0, got {n_from}")
    if n_from > n_to:
        raise ValueError(f"n_from must be <= n_to, got {n_from} > {n_to}")
    return cep_one_or_more_stream(events, a_type, b_type, watermark).filter(
        F.col("run_len").between(n_from, n_to)
    )


def cep_optional_stream(
    events: DataFrame,
    v_type: str = "view",
    c_type: str = "click",
    b_type: str = "purchase",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``queries/cep.py:cep_optional`` — the
    ``begin(V).next(C).optional().next(B)`` 0-or-1 quantifier under
    strict contiguity. Keyed state is the last TWO events' (type, id):
    the optional middle element means a B matches on (V, C, B) or
    (·, V, B). O(1) per key.
    """

    def fold(state, rows, _wm):
        p1t, p1i, p2t, p2i = state
        out = []  # (b_event_id, b_ts, view_id, click_id_or_None)
        for eid, t, typ in _events(rows):
            if typ == b_type:
                if p1t == c_type and p2t == v_type:
                    out.append((eid, t, p2i, p1i))
                elif p1t == v_type:
                    out.append((eid, t, p1i, None))
            p2t, p2i, p1t, p1i = p1t, p1i, typ, eid
        return (p1t, p1i, p2t, p2i), out, None

    keyed = events.withWatermark("ts", watermark).select(*_COLS)
    return keyed_fold(
        keyed,
        fold,
        "p1t string, p1i long, p2t string, p2i long",
        ("", 0, "", 0),
        "b_event_id long, b_ts timestamp, view_event_id long, "
        "click_event_id long",
    )


def cep_after_match_stream(
    events: DataFrame,
    strategy: str = "no_skip",
    a_type: str = "click",
    b_type: str = "purchase",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``queries/cep.py:cep_after_match`` — the
    AfterMatchSkipStrategy family over the looping
    ``A.oneOrMore().consecutive().greedy().next(B)`` pattern
    (``flink-cep/.../nfa/aftermatch/AfterMatchSkipStrategy.java``).

    Keyed state is the full start-timestamp list of the trailing
    consecutive A-run — exactly the NFA's partial-match buffer for this
    pattern (one live start per run position; Flink keeps the same
    per-start entries in its SharedBuffer). When B arrives, the
    candidate matches are the run's suffixes; the strategy picks which
    survive:

    - ``no_skip``: all start positions;
    - ``skip_past_last_event``: only the maximal match (position 0);
    - ``skip_to_last``: position 0 plus the final single-A suffix.

    State is O(run length) — bounded by the longest consecutive A-run,
    the same bound as the reference's buffer (no within() bound on this
    pattern, so no deadline pruning).
    """
    from ..queries.cep import SKIP_STRATEGIES

    if strategy not in SKIP_STRATEGIES:
        raise ValueError(
            f"unknown AfterMatchSkipStrategy {strategy!r}; "
            f"expected one of {SKIP_STRATEGIES}"
        )

    def fold(state, rows, _wm):
        starts = list(state[0])
        out = []  # (b_event_id, b_ts, a_start_ts, match_len)
        for eid, t, typ in _events(rows):
            if typ == a_type:
                starts.append(t)
            else:
                if typ == b_type and starts:
                    n = len(starts)
                    if strategy == "no_skip":
                        picks = range(n)
                    elif strategy == "skip_past_last_event":
                        picks = [0]
                    else:  # skip_to_last
                        picks = [0] if n == 1 else [0, n - 1]
                    out.extend((eid, t, starts[i], n - i) for i in picks)
                starts = []
        return (starts,), out, None

    keyed = events.withWatermark("ts", watermark).select(*_COLS)
    return keyed_fold(
        keyed,
        fold,
        "starts array<long>",
        ([],),
        "b_event_id long, b_ts timestamp, a_start_ts timestamp, "
        "match_len long",
    )


def cep_one_or_more_until_stream(
    events: DataFrame,
    until_x: float = 123.0,
    a_type: str = "click",
    b_type: str = "purchase",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``queries/cep.py:cep_one_or_more_until`` —
    ``oneOrMore().consecutive().until(value > X).next(B)``. Same
    O(1)-per-key looping-run summary as ``cep_one_or_more_stream``
    plus one ``triggered`` bit: the until() condition is evaluated as
    each A arrives (the reference checks it BEFORE consuming the
    element into the loop), and a triggered run can never complete —
    its B is swallowed and the run resets.
    """

    def fold(state, rows, _wm):
        run_len, first_ts, triggered = state
        out = []  # (b_event_id, b_ts, a_first_ts, run_len)
        for eid, t, typ, val in _events(rows, "value"):
            if typ == a_type:
                if run_len == 0:
                    first_ts = t
                run_len += 1
                if val is not None and float(val) > until_x:
                    triggered = 1
            else:
                if typ == b_type and run_len >= 1 and not triggered:
                    out.append((eid, t, first_ts, run_len))
                run_len, first_ts, triggered = 0, 0, 0
        return (run_len, first_ts, triggered), out, None

    keyed = events.withWatermark("ts", watermark).select(*_COLS, "value")
    return keyed_fold(
        keyed,
        fold,
        "run_len long, first_ts_us long, triggered long",
        (0, 0, 0),
        "b_event_id long, b_ts timestamp, a_first_ts timestamp, "
        "run_len long",
    )


def cep_followed_by_any_stream(
    events: DataFrame,
    a_type: str = "click",
    b_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``queries/cep.py:cep_followed_by_any`` —
    ``followedByAny`` (non-deterministic relaxed contiguity): every B
    pairs with EVERY pending A inside the within() bound, and — unlike
    ``cep_followed_by_stream``'s head-match — a completed A stays
    pending for later Bs until its deadline passes. State is the same
    pending-(a_event_id, a_ts) buffer with the same deadline pruning
    and watermark-timeout cleanup; only the completion rule differs
    (emit without remove), exactly how the reference's NFA models the
    strategy (the partial match branches instead of advancing).
    """
    within_us = _interval_ms(within) * 1000

    def fold(state, rows, _wm):
        if rows is None:
            return None, [], None
        pending = list(zip(*state))
        out = []  # (a_event_id, b_event_id, a_ts, b_ts)
        for eid, t, typ in _events(rows):
            if typ == a_type:
                pending.append((eid, t))
            elif typ == b_type:
                out.extend((aid, eid, ats, t) for aid, ats in pending
                           if ats + within_us >= t)
        last = rows["ts"].iloc[-1]
        pending = [p for p in pending if p[1] + within_us >= last]
        return _split(pending), out, int(last) + within_us

    keyed = (
        events.filter(F.col("event_type").isin(a_type, b_type))
        .withWatermark("ts", watermark)
        .select(*_COLS)
    )
    return keyed_fold(
        keyed,
        fold,
        "ids array<long>, ts_list array<long>",
        ([], []),
        "a_event_id long, b_event_id long, a_ts timestamp, b_ts timestamp",
        deadlines=True,
    )


def cep_next_stream(
    events: DataFrame,
    a_type: str = "view",
    b_type: str = "purchase",
    watermark: str = "10 minutes",
    negate: bool = False,
) -> DataFrame:
    """Streaming twin of ``queries/cep.py:cep_next`` (strict
    contiguity) and, with ``negate=True``, of ``cep_not_next`` (strict
    absence). Keyed state is the single previous event — the NFA's
    one-slot buffer for a strict-contiguity edge. Each arriving event
    resolves the pending A: for ``next`` it emits the (A, B) pair when
    it IS a B; for ``notNext`` it emits the A when it is NOT a B. An A
    still pending at stream end never resolves (the batch form's
    next_type IS NULL rows are a bounded-input artifact a stream cannot
    observe — documented asymmetry, tested)."""

    def fold(state, rows, _wm):
        prev_id, prev_ts, prev_is_a = state
        out = []  # (a_event_id, b_event_id, a_ts, b_ts)
        for eid, t, typ in _events(rows):
            if prev_is_a:
                is_b = typ == b_type
                if is_b and not negate:
                    out.append((prev_id, eid, prev_ts, t))
                elif not is_b and negate:
                    # no matched B exists: the b columns are NULL, not
                    # fabricated sentinels a consumer could mistake for
                    # a real event
                    out.append((prev_id, None, prev_ts, None))
            prev_id, prev_ts, prev_is_a = eid, t, int(typ == a_type)
        return (prev_id, prev_ts, prev_is_a), out, None

    keyed = events.withWatermark("ts", watermark).select(*_COLS)
    return keyed_fold(
        keyed,
        fold,
        "prev_id long, prev_ts long, prev_is_a long",
        (0, 0, 0),
        "a_event_id long, b_event_id long, a_ts timestamp, b_ts timestamp",
    )


def cep_not_followed_by_stream(
    events: DataFrame,
    a_type: str = "error",
    b_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``queries/cep.py:cep_not_followed_by`` — the
    absence pattern, which is exactly the reference's partial-match
    TIMEOUT path (``TimedOutPartialMatchHandler`` /
    ``PatternTimeoutFunction``): an A emits when its within() deadline
    passes without a B. Pending As resolve three ways:

    - a B arrives with ``b_ts <= deadline`` → matched, dropped silently
      (the pattern is absence — a completed followedBy is a NON-match);
    - a B arrives past the deadline → the A's absence is already
      decided, emit immediately (the batch form's first-B-too-late row);
    - the event-time watermark passes the deadline → emit on the state
      timeout (the NFA pruning its timed-out partial match).

    State is the pending-A buffer bounded by one within() span — the
    same bound as cep_followed_by_stream.
    """
    within_us = _interval_ms(within) * 1000

    def fold(state, rows, wm_us):
        pending = list(zip(*state))
        out = []  # (a_event_id, a_ts)
        if rows is not None:
            for eid, t, typ in _events(rows):
                if typ == a_type:
                    pending.append((eid, t))
                elif typ == b_type:
                    # in-order: this is the FIRST B for every pending A
                    out.extend(p for p in pending if p[1] + within_us < t)
                    pending = []
        # watermark past the deadline: absence confirmed (timeout path)
        out.extend(p for p in pending if p[1] + within_us < wm_us)
        pending = [p for p in pending if p[1] + within_us >= wm_us]
        if not pending:
            # drained: drop the entry — a kept state with no timeout
            # armed would park dead state in the store for every key
            # the job ever saw
            return None, out, None
        return _split(pending), out, min(p[1] for p in pending) + within_us

    # NO type filter: the absence timeout must advance on EVERY event
    # in the stream, and a type predicate — whichever side of
    # withWatermark it is written on — gets pushed below the
    # EventTimeWatermark node by Catalyst (it does not reference ts),
    # starving the watermark whenever only non-pattern traffic flows.
    # The fold ignores other types itself; this matches the reference,
    # whose CEP operator consumes the full keyed stream.
    keyed = events.withWatermark("ts", watermark).select(*_COLS)
    return keyed_fold(
        keyed,
        fold,
        "ids array<long>, ts_list array<long>",
        ([], []),
        "a_event_id long, a_ts timestamp",
        deadlines=True,
    )


def cep_group_followed_by_stream(
    events: DataFrame,
    v_type: str = "view",
    c_type: str = "click",
    times_n: int = 2,
    within: str = "7 days",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``queries/cep.py:cep_group_followed_by`` —
    the quantified GroupPattern. Keyed state composes the two
    primitive states the batch form composes as passes: the one-slot
    previous event (group detection, as in cep_next_stream) plus the
    trailing window of group-match timestamps (the times() quantifier,
    as in cep_times_stream), pruned to the within() span — state is
    O(group matches in one span). Group matches completing at the same
    VIEW timestamp are counted as ONE peer group (the batch RANGE
    frame is value-defined, so equal-ts peers see each other —
    cep_times_stream's peer-grouping discipline). Peers split ACROSS
    micro-batches are the exception: the earlier batch's peer has
    already emitted (or not) when the later one arrives, so its row
    cannot be revised with the larger peer count the batch RANGE frame
    would report."""
    from itertools import groupby

    within_us = _interval_ms(within) * 1000

    def fold(state, rows, _wm):
        prev_id, prev_ts, prev_is_v, ids, hist = state
        pairs = list(zip(ids, hist))
        out = []  # (v_event_id, c_event_id, group_ts, n_groups)
        # phase 1: detect group matches with the one-slot state; strict
        # contiguity means v_ts is non-decreasing in detection order, so
        # the phase-2 groupby is a single pass
        new_pairs = []  # (v_id, c_id, v_ts)
        for eid, t, typ in _events(rows):
            if prev_is_v and typ == c_type:
                new_pairs.append((prev_id, eid, prev_ts))
            prev_id, prev_ts, prev_is_v = eid, t, int(typ == v_type)
        # phase 2: the times() quantifier over the group-match stream,
        # equal-v_ts peers processed as one group (each peer's RANGE
        # frame contains all of them)
        for v_ts, grp_it in groupby(new_pairs, key=lambda p: p[2]):
            grp = list(grp_it)
            pairs = [p for p in pairs if p[1] >= v_ts - within_us]
            total = len(pairs) + len(grp)
            if total >= times_n:
                out.extend((v_id, c_id, v_ts, total) for v_id, c_id, _ in grp)
            pairs.extend((v_id, v_ts) for v_id, _c, _t in grp)
        return (prev_id, prev_ts, prev_is_v, *_split(pairs)), out, None

    keyed = events.withWatermark("ts", watermark).select(*_COLS)
    return keyed_fold(
        keyed,
        fold,
        "prev_id long, prev_ts long, prev_is_v long, "
        "ids array<long>, hist array<long>",
        (0, 0, 0, [], []),
        "v_event_id long, c_event_id long, group_ts timestamp, "
        "n_groups long",
    )


def cep_allow_combinations_stream(
    events: DataFrame,
    a_type: str = "click",
    b_type: str = "purchase",
    max_run: int | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``queries/cep.py:cep_allow_combinations`` —
    ``begin(A).oneOrMore().allowCombinations().next(B)``: every match of
    the pattern is a subset of the trailing consecutive A-run containing
    its last element (strict next(B) anchors the end; NO_SKIP starts an
    attempt at every a_i). So the twin is ``cep_one_or_more_stream``'s
    matches of run length k ≤ ``max_run``, each exploded into the same
    2^(k-1) (combo_mask, n_matched) rows the batch enumeration produces
    — the fan-out happens after the fold, never in state, as the batch
    form explodes ``cep_one_or_more``. The default cap is the batch
    module's COMB_MAX_RUN, so the two caps cannot desynchronize;
    ``max_run < 1`` raises ``ValueError``.
    """
    from ..queries.cep import COMB_MAX_RUN, combination_masks

    if max_run is None:
        max_run = COMB_MAX_RUN
    if max_run < 1:
        raise ValueError(f"max_run must be >= 1, got {max_run}")
    return combination_masks(
        cep_one_or_more_stream(events, a_type, b_type, watermark).filter(
            F.col("run_len") <= max_run
        )
    )
