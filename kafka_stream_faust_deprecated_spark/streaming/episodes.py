"""Streaming gap episodes (E19/E22/S4): one keyed-state operator that
runs the capped sessionizer and the Space-Saving heavy hitters.

An *episode* is a user's run of events with no idle gap of more than
``gap`` seconds. Each operator supplies the episode's accumulator: a
``fold`` that adds one event to it, and an ``emit`` that turns a
closed accumulator into output rows.

* ``sessionize_capped_stateful``: the batch ``sessionize_capped``
  contract (``queries/extras.py::sessionize_capped_df``). The
  accumulator is the open sub-session; a gap-session splits into
  ``cap``-second sub-sessions measured from its own first event, which
  plain ``session_window`` streaming cannot express.
* ``heavy_hitters_stateful``: per-(user, episode) top-``HH_K`` event
  types under an ``HH_CAPACITY``-counter Space-Saving sketch (Metwally
  et al., "Efficient computation of frequent and top-k elements in
  data streams", ICDT 2005). State stays bounded for an unbounded
  value domain, and every emitted (value, est, err) has
  ``est >= true_count`` and ``est - err <= true_count``; any value with
  ``true_count > n / capacity`` is in the sketch. While an episode's
  distinct values fit the budget the sketch counts exactly (err 0) and
  the rows equal ``queries/extras.py::heavy_hitters_exact_df``.

The machine folds an event only once the watermark seals it: its
second is at or below ``GroupState.getCurrentWatermarkMs()``. Spark
drops an arrival at or below an earlier micro-batch's watermark before
the operator runs, so sealed events fold in (second, event_id) order
across micro-batches. With every tie in the sketch broken on the value
string, each output row is a function of the on-time event set alone,
whatever the micro-batch boundaries. Unsealed events wait in state: per user, at
most the watermark delay's worth. An episode closes when a sealed event
comes more than ``gap`` seconds after its last one, or once the
watermark reaches ``last + gap``, after which no on-time event can
extend it. One event-time timeout wakes the key at the earlier of the
two watermarks that change it: the one that seals the next pending
event, and the one that closes the open episode.

Episode numbers are the batch twins' cumulative gap-break count
(``queries/extras.py::with_episode``), 1-based per user. The counter
outlives a closed episode: the state stays with no timeout armed, one
small tuple per user key, bounded by user cardinality. A deployment
that must bound state by active users would expire the tuple and
re-derive the counter from the sink's max episode per user.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone
from typing import Callable, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kafka_stream_faust_deprecated_spark.queries.extras import HH_CAPACITY, HH_K

WATERMARK = "10 seconds"

SESSION_SCHEMA = (
    "user_id LONG, gap_session LONG, sub_session LONG, n_events LONG, "
    "session_start STRING, session_end STRING, duration_sec LONG"
)

HH_SCHEMA = (
    "user_id LONG, episode LONG, event_type STRING, est_count LONG, "
    "max_err LONG, n_events LONG, rnk INT"
)

#: pending = JSON list of unsealed [second, event_id, value]; acc = JSON
#: of the open episode's accumulator (null when none is open); last =
#: second of the open episode's last folded event; episode = the open
#: episode's number, or the last closed one's.
STATE_SCHEMA = "pending STRING, acc STRING, last LONG, episode LONG"

#: fold(acc or None, second, value) -> (acc, closed part or None)
Fold = Callable[[object, int, str], Tuple[object, object]]
#: emit(user, episode, acc) -> output rows, as tuples in schema order
Emit = Callable[[int, int, object], list]


def _episode_fn(gap: int, fold: Fold, emit: Emit, columns: list[str]):
    def fn(
        key: Tuple[int], pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user = int(key[0])
        pending, acc, last, episode = [], None, 0, 0
        if state.exists:
            pending_json, acc_json, last, episode = state.get
            pending, acc = json.loads(pending_json), json.loads(acc_json)
        for pdf in pdfs:
            pending += [
                [int(pd.Timestamp(ts).timestamp()), int(eid), str(v)]
                for ts, eid, v in zip(pdf["ts"], pdf["event_id"], pdf["value"])
            ]
        pending.sort()
        wm = state.getCurrentWatermarkMs()
        n_sealed = sum(1 for sec, _eid, _v in pending if sec * 1000 <= wm)

        out: list[tuple] = []
        for sec, _eid, value in pending[:n_sealed]:
            if acc is not None and sec - last > gap:
                out += emit(user, episode, acc)
                acc = None
            if acc is None:
                episode += 1
            acc, closed = fold(acc, sec, value)
            if closed is not None:
                out += emit(user, episode, closed)
            last = sec
        pending = pending[n_sealed:]
        if acc is not None and (last + gap) * 1000 <= wm:
            out += emit(user, episode, acc)
            acc = None

        state.update(
            (json.dumps(pending), json.dumps(acc, sort_keys=True), last, episode)
        )
        wake = [pending[0][0]] if pending else []
        if acc is not None:
            wake.append(last + gap)
        if wake:
            # A timeout fires once the watermark passes it, so one ms
            # below the watermark that seals or closes.
            state.setTimeoutTimestamp(min(wake) * 1000 - 1)
        if out:
            yield pd.DataFrame(out, columns=columns)

    return fn


def gap_episodes(
    events: DataFrame, value: Column, gap: int, fold: Fold, emit: Emit, schema: str
) -> DataFrame:
    """Per-user gap episodes of a streaming (user_id, event_id, ts)
    DataFrame: ``fold`` sees each sealed event's second and ``value``
    in order, and ``emit`` makes ``schema`` rows of each closed
    accumulator. An event with a null ``ts`` (a time that did not
    parse) has no place in an episode and is dropped."""
    ev = events.where(F.col("ts").isNotNull()).select(
        "user_id",
        "event_id",
        F.date_trunc("second", "ts").alias("ts"),
        value.alias("value"),
    )
    return (
        ev.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            _episode_fn(gap, fold, emit, [c.split()[0] for c in schema.split(",")]),
            outputStructType=schema,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _iso(sec: int) -> str:
    return datetime.fromtimestamp(sec, tz=timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def _session_rows(user: int, gid: int, acc: list) -> list[tuple]:
    _start, sub, n, first, last = acc
    return [(user, gid, sub, n, _iso(first), _iso(last), last - first)]


def sessionize_capped_stateful(events: DataFrame, gap: int, cap: int) -> DataFrame:
    """Streaming capped sessionization: one row per (user_id,
    gap_session, sub_session), emitted once it closes. ``events`` is a
    streaming DataFrame with (user_id, event_id, ts)."""

    def fold(acc, sec, _value):
        # acc = [gap-session start, sub, n, first, last]
        if acc is None:
            return [sec, 0, 1, sec, sec], None
        start, sub, n, first, _last = acc
        s = (sec - start) // cap
        if s == sub:
            return [start, sub, n + 1, first, sec], None
        return [start, s, 1, sec, sec], acc

    return gap_episodes(events, F.lit(""), gap, fold, _session_rows, SESSION_SCHEMA)


def _update(sketch: dict, value: str, capacity: int) -> None:
    c = sketch["c"]
    sketch["n"] += 1
    if value in c:
        c[value][0] += 1
        return
    if len(c) < capacity:
        c[value] = [1, 0]
        return
    # Evict the min-count counter; tie-break on the value string so
    # eviction is a pure function of the data.
    victim = min(c, key=lambda v: (c[v][0], v))
    vcount = c[victim][0]
    del c[victim]
    c[value] = [vcount + 1, vcount]


def _sketch_fold(sketch, _sec, value):
    # sketch = {"c": {value: [count, err]}, "n": events folded}
    if sketch is None:
        sketch = {"c": {}, "n": 0}
    _update(sketch, value, HH_CAPACITY)
    return sketch, None


def _top_k(user: int, episode: int, sketch: dict) -> list[tuple]:
    ranked = sorted(
        sketch["c"].items(), key=lambda kv: (-kv[1][0], kv[1][1], kv[0])
    )
    return [
        (user, episode, v, cnt, err, sketch["n"], i + 1)
        for i, (v, (cnt, err)) in enumerate(ranked[:HH_K])
    ]


def heavy_hitters_stateful(events: DataFrame, horizon: int) -> DataFrame:
    """Streaming per-(user, episode) top-``HH_K`` event types under an
    ``HH_CAPACITY``-counter Space-Saving budget; an episode ends after
    an idle gap of more than ``horizon`` seconds. ``events`` is a
    streaming DataFrame with (user_id, event_id, ts, event_type)."""
    return gap_episodes(
        events, F.col("event_type"), horizon, _sketch_fold, _top_k, HH_SCHEMA
    )
