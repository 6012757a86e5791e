"""Arbitrary keyed-state processors — SURVEY §2.10 stateful_running_agg,
stateful_timer, stateful_sessionize, cep_pattern, and the streaming
twin of window_count (§2.9).

[F] KeyedProcessFunction + ValueState/ListState + event-time timers /
org.apache.flink.cep.CEP.pattern — re-expressed as
``applyInPandasWithState`` processors: per-key state rows in the
state store (RocksDB via session factory), Arrow-batched per-group
Python, event-time timeouts driven by the query watermark. State rows
are bounded and evictable — 100 TB-safe (SURVEY §4.2).

API note: Spark 4.x also ships ``transformWithStateInPandas``, the
closest 1:1 of Flink's keyed-state API, but it cannot start without a
protobuf runtime, which this deployment lacks (ROADMAP.md, "Dead
ends"); the processors below use ``applyInPandasWithState``, which
expresses the same state machines (value state = the state tuple, list
state = an array column in it, timers = setTimeoutTimestamp).

Key groups: every operator here, and the CEP NFAs streaming/cep.py
compiles (their encoded partial matches are one per-user field),
stores its per-user state the way Flink stores keyed state, in key
groups ([F] KeyGroupRange). Users hash into ``KEY_GROUPS = 128``
groups, Flink's default lower bound for max parallelism; each group is
one struct-of-arrays state row, and ``_key_group_fold`` runs the
per-user fold for every user of a group in one Python call. PySpark's per-call
cost (Arrow to pandas per column, a GroupState, output frames) is then
paid once per touched group per micro-batch, not once per user. The
price: a touched group decodes and re-encodes all its users' scalars
and held rows, about a µs per user, where a per-user call costs
milliseconds. Which design wins depends on users per state partition
against users touched per micro-batch. ``KEY_GROUPS`` is fixed, not an
option: a checkpoint's state keys depend on it (docs/SEMANTICS.md §13).

Release rules: each operator declares when a row is READY to fold.
At the watermark: a watermark-delay reorder buffer holds each row
until the watermark passes it, then folds in (ts, event_id) order. On
arrival: each micro-batch's rows fold at once, in (ts, event_id)
order within the batch; the replay harness delivers chunks in time
order, so cross-batch order matches event order (the same assumption
Flink tutorials make with ascending-timestamp sources). The count
operators run with no watermark and no timers.
"""

from __future__ import annotations

import math
from bisect import bisect_left
from functools import partial
from typing import Any, Callable, Iterator, NamedTuple, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_US = 30 * 60 * 1_000_000
# CEP windows live in the pattern declarations below (streaming/cep.py
# compiles them): 30 min for the 2-step, 4 h per stage for the 3-step
# (full v->c->p funnels are rare within 30 min in the fixture — 0 rows
# at sf0.01; 4 h keeps the golden test non-vacuous at every SF).
COUNT_WINDOW_SIZE = 5


# ---------------------------------------------------------------------------
# cep_pattern — [F] CEP.pattern(click followedBy purchase, within 30 min)
# Both NFAs are instances of the general pattern compiler
# (streaming/cep.py, VERDICT r05 #6); the hand-rolled machines they
# replace are pinned by the same golden tests that verified them.
# ---------------------------------------------------------------------------


def cep_click_purchase(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """CEP 'A followedBy B within t' — no MATCH_RECOGNIZE in Spark
    (SURVEY §2.10): compiled 2-step NFA over keyed state (streaming/
    cep.py), partial matches expired by event-time timers so state
    stays bounded. Batch shadow: queries/timewindows.py::
    cep_pattern_batch."""
    from hello_flink_spark.streaming.cep import CepPattern, compile_stream

    pat = CepPattern(steps=("click", "purchase"), within_minutes=30)
    return compile_stream(pat, events, watermark).select(
        "user_id", "click_ts", "purchase_ts"
    )


def cep3_view_click_purchase(
    events: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """CEP 'A followedBy B followedBy C, each within t' (SURVEY §2.10:
    the 3-step tier; Flink CEP Pattern.begin.followedBy x2) — compiled
    3-step NFA (streaming/cep.py). State = open partials expired by
    event-time timers, bounded by the window span. 4 h per stage keeps
    the golden test non-vacuous at every SF. Batch shadow: queries/
    timewindows.py::cep3_pattern_batch."""
    from hello_flink_spark.streaming.cep import CepPattern, compile_stream

    pat = CepPattern(steps=("view", "click", "purchase"), within_minutes=240)
    return compile_stream(pat, events, watermark).select(
        "user_id", "view_ts", "click_ts", "purchase_ts"
    )


# ---------------------------------------------------------------------------
# the keyed-state driver: key-group state, the watermark-delay reorder
# buffer and per-user deadlines — shared by every operator below
# ---------------------------------------------------------------------------


def _wm_cutoff_ns(state: GroupState, tz: str) -> int | None:
    """Watermark cutoff as SESSION-LOCAL naive nanoseconds (the frame
    Arrow delivers ``ts`` in), or None before the first watermark."""
    wm_ms = state.getCurrentWatermarkMs()
    if not wm_ms:
        return None
    return (
        pd.Timestamp(wm_ms, unit="ms", tz="UTC").tz_convert(tz).tz_localize(None).value
    )


def _local_ns_to_epoch_ms(ns: int, tz: str) -> int:
    """Session-local naive ns → epoch ms (for event-time timers).
    DST-safe for non-UTC session timezones: an ambiguous fall-back
    wall time resolves to the earlier instant and a nonexistent
    spring-forward time shifts forward — a timer may fire a step
    early, never crash (the session factory pins UTC, where both
    branches are no-ops)."""
    return (
        pd.Timestamp(ns)
        .tz_localize(tz, ambiguous=True, nonexistent="shift_forward")
        .value
        // 1_000_000
    )


def _reorder_split(buf: list, arrivals: list, cutoff: int | None):
    """Merge buffered rows with this batch's arrivals, sort by the
    leading (ts_ns, ...) key, and split at the watermark: rows the
    watermark has passed are READY to fold in event-time order; the
    rest stay HELD (the watermark-delay reorder buffer, VERDICT r07
    #7). With no watermark yet, everything holds; a cutoff of +inf
    releases everything (the on-arrival rule).

    The release bound is STRICT (ts < cutoff): a row exactly at the
    watermark is not yet safe to fold, because an equal-timestamp
    sibling is still admissible ("late" means ts < watermark) and
    could arrive in a later micro-batch — folding the first row early
    would break the (ts, event_id) order for the pair. Boundary rows
    drain as soon as the watermark moves past them."""
    buf = sorted(buf + arrivals)
    k = 0
    if cutoff is not None:
        while k < len(buf) and buf[k][0] < cutoff:
            k += 1
    return buf[:k], buf[k:]


def _arm_release_timer(
    state: GroupState, first_ns: int | None, cutoff: int | None, tz: str
) -> None:
    """Event-time timer at the earliest held row or deadline
    (``first_ns``) so the buffer drains when the watermark advances on
    OTHER keys' data — the mechanism behind the bounded-input
    MAX_WATERMARK flush. Spark fires a timer in the first batch whose
    watermark is strictly above it, which is the batch whose cutoff
    releases the row (ts < cutoff): the timer sits on the row's own
    millisecond, floored at the watermark (Spark refuses an earlier
    one) and at 1 ms before the first watermark (timers must be
    positive)."""
    if first_ns is not None:
        floor_ms = 1 if cutoff is None else _local_ns_to_epoch_ms(cutoff, tz)
        state.setTimeoutTimestamp(max(_local_ns_to_epoch_ms(first_ns, tz), floor_ms))


_DRAIN_CAST = {"user_id": int, "event_id": int, "event_type": str, "value": float}


def _drain_arrivals(tz: str | None, pdfs: Iterator[pd.DataFrame], state: GroupState, cols: tuple):
    """Arrival intake of the key-group driver: returns (arrival tuples
    ``(ts_ns, *cols)``, watermark cutoff). Below-watermark arrivals
    (ts < cutoff — Spark's own lateness definition) are dropped here;
    ordering is _reorder_split's job, so the frame is NOT pre-sorted
    (one sort per batch, not two). ``tz`` None means the stream has no
    watermark (Spark refuses to read one then): the cutoff is None and
    no row is late."""
    cutoff = None if tz is None else _wm_cutoff_ns(state, tz)
    if state.hasTimedOut:
        return [], cutoff
    pdf = pd.concat(list(pdfs), ignore_index=True)
    ts = pdf["ts"].astype("int64")
    if cutoff is not None:
        keep = ts >= cutoff
        pdf, ts = pdf[keep], ts[keep]
    series = [ts] + [pdf[c] for c in cols]
    casts = [int] + [_DRAIN_CAST[c] for c in cols]
    return list(zip(*(map(f, s.tolist()) for f, s in zip(casts, series)))), cutoff


# [F] KeyGroupRangeAssignment's default lower bound for max parallelism.
# Fixed, not an option: it decides which state row holds a user, so a
# checkpoint is readable only under the value that wrote it. At
# local[32] it still leaves about 4 groups per state partition.
KEY_GROUPS = 128


class _Recurrence(NamedTuple):
    """A per-user operator run by ``_key_group_fold``.

    ``fold(user, scalars or None, ready rows, cutoff)`` folds one
    user's released ``(ts_ns, event_id, *payload)`` rows, in order,
    onto its scalar state and returns ``(scalars, output rows)``;
    None scalars drop the user from the group. ``scalars`` names the
    per-user state fields as (name, type) pairs, ``payload`` the
    (column, type) pairs each row carries besides its time and id
    (the CEP NFAs carry two; the held rows keep the first in
    ``buf_val``, the second in ``buf_val2``). ``deadline(scalars)``,
    if given, is an event time (session-local ns) past which the user
    is folded even with no rows ready: like a held row, it is due once
    ``deadline < cutoff``. A row is READY once the watermark passes
    it, or under ``on_arrival`` at once (nothing is held; deadlines
    still wait for the watermark)."""

    fold: Callable
    scalars: tuple
    output: str
    mode: str
    payload: tuple
    deadline: Callable | None = None
    on_arrival: bool = False

    @property
    def columns(self) -> list[str]:
        return [f.split()[0] for f in self.output.split(",")]

    @property
    def arrival(self) -> tuple:
        """The columns drained with each arrival's ``ts``."""
        return ("user_id", "event_id") + tuple(c for c, _ in self.payload)

    @property
    def state(self) -> str:
        """One state row per key group, struct-of-arrays: the users that
        hold scalars, one array per scalar, then the group's held rows
        tagged with their user."""
        scalars = "".join(f"{n} array<{t}>, " for n, t in self.scalars)
        payload = "".join(
            f", buf_val{i + 1 if i else ''} array<{t}>" for i, (_, t) in enumerate(self.payload)
        )
        return (
            f"uid array<long>, {scalars}buf_uid array<long>, "
            f"buf_ts array<long>, buf_eid array<long>{payload}"
        )


def _columns(rows: list, width: int) -> list[list]:
    return [list(c) for c in zip(*rows)] or [[] for _ in range(width)]


def _key_group_fold(
    tz: str | None,
    op: _Recurrence,
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """One call per key group per micro-batch: drop below-watermark
    arrivals, then for each user with held or arriving rows merge them
    through ``_reorder_split`` (released at the watermark, or all at
    once under ``op.on_arrival``) and fold its READY rows with
    ``op.fold``; a user whose deadline is due folds too, with or
    without rows.
    Users with nothing to fold emit nothing and are carried through
    unchanged. Writes the group's one state row, arms one timer at its
    earliest held row or deadline and yields one frame with every
    user's output rows. A first-seen user whose every arrival is late
    gets no state; a user whose fold returns None scalars leaves it,
    and a group left with no users and no held rows is removed."""
    n = 1 + len(op.scalars)
    if state.exists:
        row = state.get
        scalars = dict(zip(row[0], zip(*row[1:n])))
        held: dict = {}
        for u, *r in zip(*row[n:]):
            held.setdefault(u, []).append(tuple(r))
    else:
        scalars, held = {}, {}
    arrivals, cutoff = _drain_arrivals(tz, pdfs, state, op.arrival)
    arriving: dict = {}
    for t, u, *r in arrivals:
        arriving.setdefault(u, []).append((t, *r))
    due = set()
    if op.deadline and cutoff is not None:
        due = {u for u, s in scalars.items() if op.deadline(s) < cutoff}
    release = math.inf if op.on_arrival else cutoff

    out: list = []
    for u in sorted(held.keys() | arriving.keys() | due):
        ready, held[u] = _reorder_split(held.get(u, []), arriving.get(u, []), release)
        if ready or u in due:
            s, rows = op.fold(u, scalars.get(u), ready, cutoff)
            if s is None:
                scalars.pop(u, None)
            else:
                scalars[u] = s
            out += rows
    held = {u: b for u, b in held.items() if b}
    if scalars or held:
        users = sorted(scalars)
        bufs = [(u, *r) for u in sorted(held) for r in held[u]]
        state.update(
            (
                users,
                *_columns([scalars[u] for u in users], len(op.scalars)),
                *_columns(bufs, 1 + len(op.arrival)),
            )
        )
        first = [b[0][0] for b in held.values()]
        if op.deadline:
            first += map(op.deadline, scalars.values())
        _arm_release_timer(state, min(first, default=None), cutoff, tz)
    elif state.exists:
        state.remove()
    yield pd.DataFrame(out, columns=op.columns)


def _key_grouped(events: DataFrame, delay: str | None):
    """The events watermarked at ``delay`` (not at all if None) and
    grouped by key group (``applyInPandasWithState`` takes named
    grouping columns only)."""
    if delay is not None:
        events = events.withWatermark("ts", delay)
    return events.withColumn(
        "kg", F.pmod(F.hash("user_id"), F.lit(KEY_GROUPS))
    ).groupBy("kg")


def _by_key_group(events: DataFrame, delay: str | None, op: _Recurrence) -> DataFrame:
    """``op`` over ``events`` through ``_key_group_fold``; with
    ``delay`` None the stream has no watermark and no timers, which
    only an ``on_arrival`` operator without a deadline can run on."""
    tz = None if delay is None else events.sparkSession.conf.get("spark.sql.session.timeZone")
    return _key_grouped(events, delay).applyInPandasWithState(
        partial(_key_group_fold, tz, op),
        outputStructType=op.output,
        stateStructType=op.state,
        outputMode=op.mode,
        timeoutConf=GroupStateTimeout.EventTimeTimeout if tz else GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# stateful_running_agg — [F] KeyedProcessFunction + ValueState
# ---------------------------------------------------------------------------


def _running_agg(user: int, scalars, ready: list, cutoff):
    """Running (count, sum) ValueState: one row per user per micro-batch
    with rows. The batch's values are summed first and the sum is added
    to the total, the same float arithmetic as summing the batch's
    column (nulls skipped)."""
    cnt, total = scalars or (0, 0.0)
    cnt += len(ready)
    total += float(np.nansum([v for _, _, v in ready]))
    return (cnt, total), [(user, cnt, round(total, 2))]


_RUNNING_AGG = _Recurrence(
    _running_agg,
    (("cnt", "long"), ("total", "double")),
    "user_id long, event_cnt long, total_value double",
    "update",
    (("value", "double"),),
    on_arrival=True,
)


def stateful_running_agg(events: DataFrame) -> DataFrame:
    """Per-key running fold with explicit ValueState — the arbitrary-
    state twin of jobs.running_totals (which Catalyst handles natively;
    this one demonstrates the KeyedProcessFunction escape hatch)."""
    return _by_key_group(events, None, _RUNNING_AGG)


# ---------------------------------------------------------------------------
# stateful_sessionize + stateful_timer — [F] MapState + event-time timers
# ---------------------------------------------------------------------------


def _session_deadline(sess) -> int:
    """The session's gap horizon (last + gap) in ns, the event-time
    timer of the custom sessionizer."""
    return (sess[1] + SESSION_GAP_US) * 1000


def _sessionize(user: int, scalars, ready: list, cutoff):
    """Custom sessionization: emit a (user, session_start, cnt, total)
    row when a session closes — either because a later event arrived
    past the gap (in-order closure) or because the watermark passed
    last + gap with no successor (the stateful_timer path; the driver
    folds the user once that deadline is due). A closed session drops
    the user's scalars."""
    sess = list(scalars) if scalars else None  # [start_us, last_us, cnt, total]
    rows: list = []

    def close(s) -> None:
        # integer µs → exactly representable in Arrow timestamp[us]
        rows.append((user, pd.Timestamp(int(s[0]), unit="us"), int(s[2]), round(s[3], 2)))

    for ts_ns, _eid, value in ready:
        ts_us = ts_ns // 1000
        if sess is None:
            sess = [ts_us, ts_us, 0, 0.0]
        elif ts_us - sess[1] >= SESSION_GAP_US:
            close(sess)
            sess = [ts_us, ts_us, 0, 0.0]
        sess[1] = ts_us
        sess[2] += 1
        sess[3] += value
    if sess is not None and cutoff is not None and _session_deadline(sess) < cutoff:
        close(sess)
        sess = None
    return (tuple(sess) if sess else None), rows


_SESSIONIZE = _Recurrence(
    _sessionize,
    (("start_us", "long"), ("last_us", "long"), ("cnt", "long"), ("total", "double")),
    "user_id long, session_start timestamp, cnt long, total_value double",
    "append",
    (("value", "double"),),
    _session_deadline,
    on_arrival=True,
)


def stateful_sessionize(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Sessionization with explicit state + event-time timers (the
    custom path; F.session_window covers the declarative case)."""
    return _by_key_group(events, watermark, _SESSIONIZE)


# ---------------------------------------------------------------------------
# stateful_timer — [F] Context#timerService().registerEventTimeTimer
# ---------------------------------------------------------------------------

INACTIVITY_US = 60 * 60 * 1_000_000


def _idle_deadline(idle) -> int:
    """last + INACTIVITY_US in ns: every event moves this timer."""
    return (idle[0] + INACTIVITY_US) * 1000


def _inactivity(user: int, scalars, ready: list, cutoff):
    """State (last_us, cnt): one alert row ``(user, last, cnt)`` per idle
    spell, a gap of more than INACTIVITY_US after ``last``. Each row
    first closes the spell its gap from ``last`` ends (previous batch's
    last → first row, then row → row), then becomes ``last``; once the
    watermark passes last + INACTIVITY_US the timer closes the open
    spell and drops the user's state. Closing on the gap, not only on
    the timer, keeps the alerts the same however the stream is cut
    into micro-batches: a user's next event may arrive in the very
    batch whose watermark passes its deadline."""
    last, cnt = scalars or (None, 0)
    rows: list = []
    for ts_ns, _eid in ready:
        ts_us = ts_ns // 1000
        if last is not None and ts_us - last > INACTIVITY_US:
            rows.append((user, pd.Timestamp(int(last), unit="us"), int(cnt)))
            cnt = 0
        last, cnt = ts_us, cnt + 1
    if cutoff is not None and _idle_deadline((last, cnt)) < cutoff:
        return None, rows + [(user, pd.Timestamp(int(last), unit="us"), int(cnt))]
    return (last, cnt), rows


_INACTIVITY = _Recurrence(
    _inactivity,
    (("last_us", "long"), ("cnt", "long")),
    "user_id long, last_seen timestamp, events_before_idle long",
    "append",
    (),
    _idle_deadline,
    on_arrival=True,
)


def inactivity_alerts(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Per-key event-time timer callback: emit an alert row when a user
    goes quiet for INACTIVITY_US of event time — every event
    re-registers the timer, and a gap that a later event closes alerts
    too, whichever micro-batch that event arrives in."""
    return _by_key_group(events, watermark, _INACTIVITY)


# ---------------------------------------------------------------------------
# window_count streaming twin — [F] countWindow(n), and the global-window
# count trigger — [F] GlobalWindows + CountTrigger.of(n)
# ---------------------------------------------------------------------------


def _count_window(user: int, scalars, ready: list, cutoff):
    chunk_idx, buf_cnt, buf_sum = scalars or (0, 0, 0.0)
    rows = []
    for _, _, value in ready:
        buf_cnt += 1
        buf_sum += value
        if buf_cnt == COUNT_WINDOW_SIZE:
            rows.append((user, chunk_idx, COUNT_WINDOW_SIZE, round(buf_sum, 2)))
            chunk_idx += 1
            buf_cnt, buf_sum = 0, 0.0
    return (chunk_idx, buf_cnt, buf_sum), rows


_COUNT_WINDOW = _Recurrence(
    _count_window,
    (("chunk_idx", "long"), ("buf_cnt", "long"), ("buf_sum", "double")),
    "user_id long, chunk long, cnt long, total_value double",
    "append",
    (("value", "double"),),
    on_arrival=True,
)

GLOBAL_TRIGGER_EVERY = 5


def _global_count_trigger(user: int, scalars, ready: list, cutoff):
    cnt, total = scalars or (0, 0.0)
    rows = []
    for _, _, value in ready:
        cnt += 1
        total += value
        if cnt % GLOBAL_TRIGGER_EVERY == 0:
            rows.append((user, cnt, round(total, 2)))
    return (cnt, total), rows


_GLOBAL_COUNT_TRIGGER = _Recurrence(
    _global_count_trigger,
    (("cnt", "long"), ("total", "double")),
    "user_id long, fire_at long, total_value double",
    "append",
    (("value", "double"),),
    on_arrival=True,
)


def global_count_trigger_stream(events: DataFrame) -> DataFrame:
    """[F] GlobalWindows.create() + CountTrigger.of(N): one unbounded
    window per key whose trigger fires a running-aggregate snapshot
    every N records — SURVEY §2.9's last row, previously documented out
    of scope. Spark has no custom-trigger surface, but the COUNT
    trigger is a keyed state machine: a counter + running sum emitting
    at each N-boundary (the processing-time trigger variant is the
    query-level Trigger.ProcessingTime, see docs/SEMANTICS.md §3).
    State is two scalars per key — bounded without eviction, unlike a
    buffering global window."""
    return _by_key_group(events, None, _GLOBAL_COUNT_TRIGGER)


def count_window_stream(events: DataFrame) -> DataFrame:
    """Count-based windows (every N events per key) — no Structured
    Streaming native (SURVEY §2.9): a stateful counter emitting a row
    per completed chunk; the trailing partial stays in state (a stream
    never ends — the batch shadow window_count emits it on EOF)."""
    return _by_key_group(events, None, _COUNT_WINDOW)


# ---------------------------------------------------------------------------
# window_count_evictor streaming twin — [F] countWindow(n) +
# CountEvictor.of(keep)
# ---------------------------------------------------------------------------

# single source for the batch/stream twin pair: queries/round9.py
# imports both this and COUNT_WINDOW_SIZE
COUNT_EVICT_KEEP = 3


def _count_window_evictor(user: int, scalars, ready: list, cutoff):
    chunk_idx, buf_cnt, ring = scalars or (0, 0, [])
    ring = list(ring)
    rows = []
    for _, _, value in ready:
        buf_cnt += 1
        ring.append(value)
        # the evictor's buffer bound IS the state bound: only the last
        # `keep` elements can ever be aggregated, so older ones drop
        # the moment they are displaced — state stays O(keep), not O(n)
        if len(ring) > COUNT_EVICT_KEEP:
            ring.pop(0)
        if buf_cnt == COUNT_WINDOW_SIZE:
            rows.append((user, chunk_idx, len(ring), round(sum(ring), 2)))
            chunk_idx += 1
            buf_cnt, ring = 0, []
    return (chunk_idx, buf_cnt, ring), rows


_COUNT_WINDOW_EVICTOR = _Recurrence(
    _count_window_evictor,
    (("chunk_idx", "long"), ("buf_cnt", "long"), ("ring", "array<double>")),
    "user_id long, chunk long, cnt_kept long, total_value double",
    "append",
    (("value", "double"),),
    on_arrival=True,
)


def count_window_evictor_stream(events: DataFrame) -> DataFrame:
    """[F] ``countWindow(5)`` + ``CountEvictor.of(3)`` — streaming
    twin of queries/round9.py::window_count_evictor. Flink's evictor
    trims the buffer when the window FIRES; because CountEvictor keeps
    a suffix, the same result falls out of keeping only the trailing
    ``keep`` elements as they arrive — which also bounds state at
    O(keep) scalars per key instead of the full window buffer (the
    very reason evictors exist). The trailing partial window stays in
    state (a stream never ends; the batch shadow emits it on EOF).

    Per-batch arrivals are (ts, event_id)-sorted like the other count
    machines; the fold order across batches is the replay order, the
    same contract ``count_window_stream`` documents."""
    return _by_key_group(events, None, _COUNT_WINDOW_EVICTOR)


# ---------------------------------------------------------------------------
# stateful_markov_transitions — [F] KeyedProcessFunction + ValueState
# (streaming twin of queries/round5.py::events_markov_transitions)
# ---------------------------------------------------------------------------


def _markov(user: int, scalars, ready: list, cutoff):
    """Per-user Markov ValueState (the previous event type): folds the
    reorder buffer's releases onto the carried ``prev`` chain in
    (ts, event_id) order — so an out-of-order event WITHIN the
    watermark delay that crosses a micro-batch boundary still counts
    in true event-time order (the r06/r07 arrival-order residual is
    gone, VERDICT r07 #7). Each release emits transition-pair count
    DELTAS (append mode); the sink aggregates them into the matrix."""
    prev = scalars[0] if scalars else None
    pairs: dict = {}
    for _, _, nxt in ready:
        if prev is not None:
            pairs[(prev, nxt)] = pairs.get((prev, nxt), 0) + 1
        prev = nxt
    return (prev,), [(user, a, b, c) for (a, b), c in sorted(pairs.items())]


_MARKOV = _Recurrence(
    _markov,
    (("prev", "string"),),
    "user_id long, prev_type string, next_type string, cnt long",
    "append",
    (("event_type", "string"),),
)


def stateful_markov_transitions(events: DataFrame) -> DataFrame:
    """Streaming first-order Markov transition counting: the batch
    shadow is queries/round5.py::events_markov_transitions; the golden
    test sums the emitted per-batch deltas and compares against it.

    Late-data contract (VERDICT r07 #7 — the arrival-order residual is
    gone): a watermark-delay REORDER BUFFER holds each row in state
    until the watermark passes its event time, then folds in strict
    (ts, event_id) order — so ANY out-of-orderness within the
    watermark delay, micro-batch boundaries included, counts in true
    event-time order; rows the watermark already passed are dropped
    (standard late_drop). Streaming deltas sum to the batch shadow
    over the non-late rows exactly; rows still inside the delay when
    the stream pauses stay buffered until the watermark moves — the
    end-of-stream flush is a watermark advance (Flink's MAX_WATERMARK
    on bounded input; the goldens advance it with a sentinel-key
    chunk). State = one string + ≤ delay×rate in-flight rows per
    user, in key-group rows."""
    return _by_key_group(events, "30 minutes", _MARKOV)


# ---------------------------------------------------------------------------
# stateful_burst_detector — streaming twin of round6.events_bot_burst
# ---------------------------------------------------------------------------

BURST_WINDOW_S = 86400


def _burst(user: int, scalars, ready: list, cutoff):
    """Per-user rolling-24 h burst maximum. State = per-second event
    counts inside the trailing window (``secs``/``cnts``, pruned each
    release — bounded by window span × rate) + the running max. The
    batch shadow's RANGE frame is value-based over floored epoch
    seconds, so the windowed sum here also groups by second and sums
    seconds in [s − 86399, s] — same arithmetic, incremental state.
    Rows fold in event-time order, so a within-delay out-of-order row
    can never land behind the pruned horizon: the horizon only
    advances past seconds the watermark has already passed."""
    secs, cnts, max_burst = scalars or ([], [], 0)
    counts = dict(zip(secs, cnts))
    for t, _ in ready:
        s = t // 1_000_000_000
        counts[s] = counts.get(s, 0) + 1
    ordered = sorted(counts)
    vals = [counts[s] for s in ordered]
    # windowed sum per present second (two-pointer over sorted secs)
    lo = run = 0
    for hi, s in enumerate(ordered):
        run += vals[hi]
        while ordered[lo] < s - (BURST_WINDOW_S - 1):
            run -= vals[lo]
            lo += 1
        max_burst = max(max_burst, run)
    cut = bisect_left(ordered, ordered[-1] - (BURST_WINDOW_S - 1))
    return (ordered[cut:], vals[cut:], max_burst), [(user, max_burst)]


_BURST = _Recurrence(
    _burst,
    (("secs", "array<long>"), ("cnts", "array<long>"), ("max_burst", "long")),
    "user_id long, max_burst_24h long",
    "update",
    (),
)


def stateful_burst_detector(events: DataFrame) -> DataFrame:
    """Streaming bot/burst detection: update-mode running maximum of
    each user's rolling-24 h event count (batch shadow:
    queries/round6.py::events_bot_burst). The per-user state is one
    (second → count) map covering a single window span plus the
    ≤ delay×rate reorder buffer — bounded regardless of stream length,
    the keyed-state analog of the batch RANGE frame. Below-watermark
    rows are dropped; within-delay rows fold in event-time order via
    the reorder buffer (VERDICT r07 #7), and a user emits its running
    max whenever the watermark releases some of its rows. The streamed
    running max equals the batch RANGE frame over the non-late rows,
    golden-tested on the in-order, out-of-order and late-tail replays
    (sentinel-key flush chunk = the bounded-input MAX_WATERMARK)."""
    return _by_key_group(events, "30 minutes", _BURST)


# ---------------------------------------------------------------------------
# the four value recurrences: stateful_value_ewma (twin of round7's
# events_value_ewma), stateful_autocorr (events_autocorrelation),
# stateful_delta_trigger and stateful_cusum (round9's events_delta_trigger
# and events_cusum_alarms)
# ---------------------------------------------------------------------------


def _ewma(user: int, scalars, ready: list, cutoff):
    """EWMA ValueState (ewma, n): the recurrence is order-sensitive by
    definition, so it folds the reorder buffer's releases in true
    (ts, event_id) order. Emits the running value once per release."""
    from hello_flink_spark.queries.round7 import EWMA_ALPHA

    cur, n = scalars or (None, 0)
    for _, _, v in ready:
        cur = v if cur is None else EWMA_ALPHA * v + (1 - EWMA_ALPHA) * cur
        n += 1
    return (cur, n), [(user, n, cur)]


_EWMA = _Recurrence(
    _ewma,
    (("ewma", "double"), ("n", "long")),
    "user_id long, n_events long, ewma_value double",
    "update",
    (("value", "double"),),
)


def stateful_value_ewma(events: DataFrame, delay: str = "30 minutes") -> DataFrame:
    """Streaming EWMA (update mode): emits each user's running
    exponentially weighted average whenever the watermark releases
    rows from the reorder buffer (VERDICT r07 #7, extended round-8:
    the recurrence folds in true event-time order under any
    within-delay out-of-orderness). State = two scalars + the
    in-flight row window per user, in key-group rows; below-watermark
    arrivals drop.
    ``delay`` is the watermark delay (= reorder-buffer horizon): the
    fixture goldens use the 30 min default; the throughput probe
    (scripts/streaming_throughput.py) shortens it so releases happen
    within the probe window — the buffer size scales with
    delay x per-key rate either way."""
    return _by_key_group(events, delay, _EWMA)


def _autocorr(user: int, scalars, ready: list, cutoff):
    """Lag-1 Pearson moments as ValueState: seven scalars (prev value,
    n, Σx, Σy, Σxy, Σx², Σy²) — the incremental form of the batch
    LAG+corr plan, O(1) state per user. Each release folds its values
    into the moments and emits the running correlation; the
    sample-corr denominator uses n-1-normalized moments so the result
    equals covar_samp/(sx·sy)."""
    prev, n, sx, sy, sxy, sxx, syy = scalars or (None, 0, 0.0, 0.0, 0.0, 0.0, 0.0)
    for _, _, v in ready:
        if prev is not None:
            n += 1
            sx += v
            sy += prev
            sxy += v * prev
            sxx += v * v
            syy += prev * prev
        prev = v
    corr = None
    if n >= 2:
        cov = (sxy - sx * sy / n) / (n - 1)
        vx = (sxx - sx * sx / n) / (n - 1)
        vy = (syy - sy * sy / n) / (n - 1)
        # a constant series with fractional values can leave a variance
        # a rounding step below zero: zero variance, NULL like the batch
        if vx > 0 and vy > 0:
            corr = cov / (math.sqrt(vx) * math.sqrt(vy))
    return (prev, n, sx, sy, sxy, sxx, syy), [(user, n, corr)]


_AUTOCORR = _Recurrence(
    _autocorr,
    (
        ("prev", "double"), ("n", "long"), ("sx", "double"), ("sy", "double"),
        ("sxy", "double"), ("sxx", "double"), ("syy", "double"),
    ),
    "user_id long, n_pairs long, lag1_autocorr double",
    "update",
    (("value", "double"),),
)


def stateful_autocorr(events: DataFrame) -> DataFrame:
    """Streaming lag-1 autocorrelation (update mode): the keyed-state
    twin of events_autocorrelation — seven scalars of state per user,
    rows fold in event-time order via the watermark-delay reorder
    buffer (round-8 extension of VERDICT r07 #7), zero-variance
    series yield NULL exactly like the batch try_divide form."""
    return _by_key_group(events, "30 minutes", _AUTOCORR)


def _delta_trigger(user: int, scalars, ready: list, cutoff):
    """DeltaTrigger state machine: the trigger is a recurrence (the
    baseline updates only at fires), so fold order matters. State =
    four scalars (baseline, n, total, fires); each fire emits an
    immutable snapshot row (append mode)."""
    from hello_flink_spark.queries.round9 import DELTA_TRIGGER_THRESH

    baseline, n, total, fires = scalars or (None, 0, 0.0, 0)
    rows = []
    for _, _, v in ready:
        v = float(v)
        n += 1
        total += v
        if baseline is None:
            baseline = v
        elif abs(v - baseline) > DELTA_TRIGGER_THRESH:
            fires += 1
            baseline = v
            rows.append((user, fires, n, round(total, 2), v))
    return (baseline, n, total, fires), rows


_DELTA_TRIGGER = _Recurrence(
    _delta_trigger,
    (("baseline", "double"), ("n", "long"), ("total", "double"), ("fires", "long")),
    "user_id long, fire_seq long, n_events long, total_value double, "
    "trigger_value double",
    "append",
    (("value", "double"),),
)


def stateful_delta_trigger(events: DataFrame, delay: str = "30 minutes") -> DataFrame:
    """[F] ``GlobalWindows`` + ``DeltaTrigger.of(200, |v − v_last|)``
    — the last unmapped trigger strategy, as a keyed state machine
    (docs/SEMANTICS.md §3; count + processing-time triggers were
    mapped in round 3): the first element seeds the delta baseline
    without firing; each later element fires iff it deviates from the
    baseline by more than the threshold, emitting the global window's
    running (count, sum) snapshot and re-seeding the baseline — the
    emit-on-meaningful-change shape. Fires are immutable → append
    mode. State is FOUR scalars + the reorder-buffer window per user
    (the trigger never buffers the window contents — running
    aggregates carry them), and the reorder buffer gives the
    recurrence true event-time fold order under any within-delay
    out-of-orderness, golden-matched to the batch shadow
    ``events_delta_trigger``."""
    return _by_key_group(events, delay, _DELTA_TRIGGER)


def _cusum(user: int, scalars, ready: list, cutoff):
    """CUSUM (Page's test): s ← max(0, s + v − μ − k) with alarm +
    restart at the h crossing — a recurrence whose restart couples
    every step to the alarm history, so fold order matters exactly
    like the delta trigger. State = three scalars (s, n, alarms)."""
    from hello_flink_spark.queries.round9 import CUSUM_H, CUSUM_K, CUSUM_MU

    s, n, alarms = scalars or (0.0, 0, 0)
    rows = []
    for _, _, v in ready:
        n += 1
        # pre-associated d-form: identical IEEE op sequence to the
        # batch lockstep scan / reference fold / recursive-CTE oracle
        s = max(0.0, s + (float(v) - CUSUM_MU - CUSUM_K))
        if s > CUSUM_H:
            alarms += 1
            rows.append((user, alarms, n, round(s, 6), float(v)))
            s = 0.0
    return (s, n, alarms), rows


_CUSUM = _Recurrence(
    _cusum,
    (("s", "double"), ("n", "long"), ("alarms", "long")),
    "user_id long, alarm_seq long, n_events long, cusum_stat double, "
    "trigger_value double",
    "append",
    (("value", "double"),),
)


def stateful_cusum(events: DataFrame, delay: str = "30 minutes") -> DataFrame:
    """Streaming CUSUM drift alarms (append mode): each h-crossing
    emits an immutable (user, alarm_seq, n_events, statistic, value)
    row and restarts the statistic — the online form of the batch
    detector ``events_cusum_alarms``, golden-matched row-for-row over
    the out-of-order replay. State is THREE scalars + the reorder
    buffer per user; the buffer gives the restart-coupled recurrence
    true event-time fold order under any within-delay
    out-of-orderness."""
    return _by_key_group(events, delay, _CUSUM)


# ---------------------------------------------------------------------------
# stateful_session_funnel — streaming twin of round8.events_session_funnel
# ---------------------------------------------------------------------------

FUNNEL_GAP_US = 30 * 60 * 1_000_000


def _funnel_deadline(sess) -> int:
    """The session's gap horizon (last + 30 min) in ns: once the
    watermark passes it, no admissible row can extend the session."""
    return (sess[1] + FUNNEL_GAP_US) * 1000


def _session_funnel(user: int, scalars, ready: list, cutoff):
    """Per-user session funnel: one active session (start, last, and
    the three funnel markers fv/fc/fp as µs, -1 = unreached). Rows
    fold in event-time order once the watermark releases them; a
    session CLOSES — emitting (session_start, reached_stage 0-3) and
    dropping the user's scalars — once the watermark passes its gap
    horizon, in the first call that observes it (new rows for the
    key group, or the group's timer, which the driver arms at the
    earliest held row or deadline). The in-order marker scan (first
    view; first click strictly after it; first purchase strictly
    after that) computes exactly the batch query's chained
    conditional MINs."""
    sess = list(scalars) if scalars else None
    rows: list = []

    def close(s) -> None:
        stage = 3 if s[4] >= 0 else 2 if s[3] >= 0 else 1 if s[2] >= 0 else 0
        rows.append((user, pd.Timestamp(int(s[0]), unit="us"), stage))

    for ts_ns, _eid, et in ready:
        us = ts_ns // 1000
        if sess is None:
            sess = [us, us, -1, -1, -1]
        elif us - sess[1] > FUNNEL_GAP_US:
            close(sess)
            sess = [us, us, -1, -1, -1]
        sess[1] = us
        if et == "view" and sess[2] < 0:
            sess[2] = us
        elif et == "click" and sess[3] < 0 and 0 <= sess[2] < us:
            sess[3] = us
        elif et == "purchase" and sess[4] < 0 and 0 <= sess[3] < us:
            sess[4] = us

    # any held row is at or above the cutoff, past the horizon, so it
    # can only start a NEW session
    if sess is not None and cutoff is not None and _funnel_deadline(sess) < cutoff:
        close(sess)
        sess = None
    return (tuple(sess) if sess else None), rows


_SESSION_FUNNEL = _Recurrence(
    _session_funnel,
    (("start", "long"), ("last", "long"), ("fv", "long"), ("fc", "long"), ("fp", "long")),
    "user_id long, session_start timestamp, reached_stage int",
    "append",
    (("event_type", "string"),),
    _funnel_deadline,
)


def stateful_session_funnel(events: DataFrame) -> DataFrame:
    """Streaming session-funnel (append mode): emits one
    (user, session_start, reached_stage) row per CLOSED 30-min-gap
    session — the keyed-state twin of events_session_funnel's batch
    windows, golden-tested so that the emitted rows aggregate to the
    batch query's four counters exactly. State per user = five µs
    scalars while a session is open + the reorder buffer, in
    key-group rows."""
    return _by_key_group(events, "30 minutes", _SESSION_FUNNEL)
