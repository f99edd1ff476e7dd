"""Golden tests for streaming capped sessionization (E19/E22).

``sessionize_capped_stateful`` must be ROW-IDENTICAL to the batch
``sessionize_capped_df`` transform over the same on-time events —
gap_session numbering, cap splits, timestamps, durations, everything.
The fixture crosses every boundary class: gap breaks, cap splits
mid-gap-session, multi-event sub-sessions, and a single-event session.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from kafka_stream_faust_deprecated_spark.io import file_event_source
from kafka_stream_faust_deprecated_spark.queries.extras import (
    sessionize_capped_df,
)
from kafka_stream_faust_deprecated_spark.streaming.episodes import (
    sessionize_capped_stateful,
)
from tests.stream_drain import drain, write_files

GAP = 60  # test-sized: new session after >60 s idle
CAP = 300  # split a gap-session every 300 s from its first event

T0 = datetime(2024, 3, 1, tzinfo=timezone.utc)


def _events():
    """(user_id, event_id, offset_sec) — deterministic fixture.

    user 1: run of events 0..120s at 30s steps (one sub-session),
            then a >GAP gap, then a long run crossing CAP -> cap split.
    user 2: single event (singleton session), then gap, then a pair.
    """
    rows = []
    eid = 0

    def add(u, off):
        nonlocal eid
        eid += 1
        rows.append((u, eid, off))

    for off in (0, 30, 60, 90, 120):          # u1 session 1.0
        add(1, off)
    # gap (>60) then run 300..660 at 30s steps: crosses CAP at 600
    for off in range(300, 661, 30):           # u1 session 2.0 / 2.1
        add(1, off)
    add(2, 10)                                # u2 session 1.0 (singleton)
    add(2, 500)                               # u2 session 2.0 (pair)
    add(2, 530)
    return rows


def _flush(off: int):
    return [(1, 9001, off), (2, 9002, off)]


def _line(row):
    u, eid, off = row
    ts = (T0 + timedelta(seconds=off)).strftime("%Y-%m-%d %H:%M:%S")
    return {"user_id": u, "event_id": eid, "ts": ts}


def _run(spark, tmp_path, name, files, line=_line):
    src = write_files(tmp_path / "src", files, line)
    return drain(
        sessionize_capped_stateful(file_event_source(spark, src), gap=GAP, cap=CAP),
        tmp_path / "ckpt",
        name,
    )


def _key(r):
    return (r["user_id"], r["gap_session"], r["sub_session"])


def _expected(spark, rows):
    ev = spark.createDataFrame(
        [
            (u, eid, (T0 + timedelta(seconds=off)).replace(tzinfo=None))
            for u, eid, off in rows
        ],
        "user_id long, event_id long, ts timestamp",
    )
    return {_key(r): r for r in sessionize_capped_df(ev, gap=GAP, cap=CAP).collect()}


def test_streaming_sessions_match_batch_twin(spark, tmp_path):
    """Every on-time session closed by the flush batch must equal the
    batch transform's row for the same (user, gap_session, sub)."""
    fixture = _events()
    flush_off = 100_000
    got = _run(
        spark,
        tmp_path,
        "sess_twin",
        [("f1.json", fixture), ("f2.json", _flush(flush_off))],
    )
    flush_day = (T0 + timedelta(seconds=flush_off)).strftime("%Y-%m-%d")
    closed = [r for r in got if not r["session_start"].startswith(flush_day)]
    exp = _expected(spark, fixture)
    assert {_key(r) for r in closed} == set(exp)
    for r in closed:
        e = exp[_key(r)]
        for c in (
            "n_events",
            "session_start",
            "session_end",
            "duration_sec",
        ):
            assert r[c] == e[c], (c, _key(r), r[c], e[c])


def test_streaming_sessions_cap_split_counts(spark, tmp_path):
    """The cap split happens mid-gap-session: user 1's second
    gap-session must appear as sub 0 (300..570) and sub 1 (600..660),
    both under gap_session 2."""
    got = _run(
        spark,
        tmp_path,
        "sess_split",
        [("f1.json", _events()), ("f2.json", _flush(100_000))],
    )
    u1 = {
        (r["gap_session"], r["sub_session"]): r
        for r in got
        if r["user_id"] == 1 and r["session_start"].startswith("2024-03-01")
    }
    assert set(u1) == {(1, 0), (2, 0), (2, 1)}
    assert u1[(1, 0)]["n_events"] == 5
    assert u1[(2, 0)]["n_events"] == 10   # 300..570 inclusive, 30s steps
    assert u1[(2, 1)]["n_events"] == 3    # 600, 630, 660
    assert u1[(2, 0)]["duration_sec"] == 270
    assert u1[(2, 1)]["duration_sec"] == 60


def test_streaming_sessions_checkpoint_restart(spark, tmp_path):
    """Durability: stop the sessionizer mid-fixture — with user 1's
    second gap-session HALF-FED, the hardest state to lose — restart a
    new query on the same checkpoint, feed the rest + flush. The closed
    sessions must equal the batch twin exactly, with no session split
    at the restart boundary and no duplicates (append mode + restored
    open-session state). Uses foreachBatch: memory-sink queries refuse
    checkpoint recovery."""
    fixture = _events()
    first = [r for r in fixture if r[2] <= 400]
    rest = [r for r in fixture if r[2] > 400]
    assert first and rest  # the split lands inside u1's gap-session 2

    src = tmp_path / "src"
    collected: list = []

    def _start():
        return (
            sessionize_capped_stateful(
                file_event_source(spark, str(src)), gap=GAP, cap=CAP
            )
            .writeStream.foreachBatch(
                lambda df, _epoch: collected.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    write_files(src, [("f1.json", first)], _line)
    q1 = _start()
    q1.awaitTermination(300)

    write_files(src, [("f2.json", rest), ("f3.json", _flush(100_000))], _line)
    q2 = _start()
    q2.awaitTermination(300)

    flush_day = (T0 + timedelta(seconds=100_000)).strftime("%Y-%m-%d")
    closed = [
        r for r in collected if not r["session_start"].startswith(flush_day)
    ]
    keys = [_key(r) for r in closed]
    assert len(keys) == len(set(keys)), "restart re-emitted sessions"
    exp = _expected(spark, fixture)
    assert set(keys) == set(exp)
    for r in closed:
        e = exp[_key(r)]
        for c in ("n_events", "session_start", "session_end", "duration_sec"):
            assert r[c] == e[c], (c, _key(r), r[c], e[c])


def test_streaming_sessions_timeout_closes_idle(spark, tmp_path):
    """WITHOUT a flush event for user 2, the event-time timeout (armed
    at last+gap) must still close user 2's final session once user 1's
    flush advances the watermark past it."""
    fixture = _events()
    got = _run(
        spark,
        tmp_path,
        "sess_timeout",
        [("f1.json", fixture), ("f2.json", [(1, 9001, 100_000)])],
    )
    u2 = {
        (r["gap_session"], r["sub_session"]): r
        for r in got
        if r["user_id"] == 2
    }
    assert (2, 0) in u2, f"idle user's last session not closed: {sorted(u2)}"
    assert u2[(2, 0)]["n_events"] == 2


def test_streaming_sessions_out_of_order_on_time_events(spark, tmp_path):
    """On-time events that arrive out of order must not change the
    sessions. Batch 2 brings user 1's seconds 95 and 400, behind batch
    1's 405 yet on time, so Spark keeps them. Folded after 405 they
    would give a negative sub-session, split gap-session 3 and emit a
    phantom gap-session 4; the closed sessions must equal the batch
    transform over all five events, each once."""
    first = [(1, 1, 0), (1, 2, 100), (1, 3, 405)]
    second = [(1, 4, 95), (1, 5, 400)]
    got = _run(
        spark,
        tmp_path,
        "sess_ooo",
        [("f1.json", first), ("f2.json", second), ("f3.json", _flush(100_000))],
    )
    flush_day = (T0 + timedelta(seconds=100_000)).strftime("%Y-%m-%d")
    closed = [r for r in got if not r["session_start"].startswith(flush_day)]
    keys = [_key(r) for r in closed]
    assert len(keys) == len(set(keys)), sorted(keys)
    exp = _expected(spark, first + second)
    assert {k: r.asDict() for k, r in zip(keys, closed)} == {
        k: r.asDict() for k, r in exp.items()
    }


def test_streaming_sessions_skip_events_without_time(spark, tmp_path):
    """An event whose time does not parse decodes to a null ``ts``; it
    cannot be placed in an episode, so the sessionizer drops it and the
    query goes on. The closed sessions equal the batch twin over the
    good line alone."""
    good = [(1, 1, 0)]
    bad = {"user_id": 1, "event_id": 2, "ts": "not-a-time"}
    files = [
        ("f1.json", [_line(r) for r in good] + [bad]),
        ("f2.json", [_line(r) for r in _flush(100_000)]),
    ]
    got = _run(spark, tmp_path, "sess_bad_ts", files, line=lambda row: row)
    flush_day = (T0 + timedelta(seconds=100_000)).strftime("%Y-%m-%d")
    closed = [r for r in got if not r["session_start"].startswith(flush_day)]
    exp = _expected(spark, good)
    assert {_key(r): r.asDict() for r in closed} == {
        k: r.asDict() for k, r in exp.items()
    }
