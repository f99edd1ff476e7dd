"""Streaming-mode goldens for the generic windowed/stateful operators
(E19-E21) and the stream-stream join (E20).

The oracle harness checks these operators in BATCH mode
(queries/temporal.py); these tests run the SAME library functions
through the real streaming machinery — file sources, watermarks, the
session-window state store, ``dropDuplicatesWithinWatermark``, and
two-stream join state — and pin:

1. streaming output == the batch run over the same input (mode-agnostic
   semantics is a tested fact, not a claim);
2. the watermark actually bounds state: a late row that would join/
   aggregate on time is dropped once the watermark has passed it, and
   the SAME row joins when the watermark has not (so the drop is
   attributable to the watermark, not the operator predicate).
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone

from pyspark.sql import functions as F

from kafka_stream_faust_deprecated_spark.io import decode_events, file_event_source
from kafka_stream_faust_deprecated_spark.streaming.windows import (
    sessionize,
    sliding_aggregate,
    stream_static_join,
    stream_stream_join,
    streaming_dedup,
    tumbling_aggregate,
)
from tests.stream_drain import drain, write_files

T0 = datetime(2024, 1, 1, 0, 0, 0, tzinfo=timezone.utc)


def make_event(event_id, minutes, user_id, event_type, value):
    return {
        "event_id": event_id,
        "ts": (T0 + timedelta(minutes=minutes)).isoformat(),
        "user_id": user_id,
        "event_type": event_type,
        "value": value,
        "props": json.dumps({"k": event_id}),
    }


def _batch_events_df(spark, events):
    return decode_events(
        spark.createDataFrame([(json.dumps(e),) for e in events], "json string")
    )


# ---------------------------------------------------------------------------
# E20 — stream-stream join
# ---------------------------------------------------------------------------

PURCHASES = [
    make_event(1, 600, 1, "purchase", 10.0),   # 10:00 user1
    make_event(2, 660, 2, "purchase", 20.0),   # 11:00 user2
    make_event(3, 750, 1, "purchase", 30.0),   # 12:30 user1
]
CLICKS = [
    make_event(101, 570, 1, "click", 1.0),     # 09:30 user1 -> joins p1
    make_event(102, 510, 1, "click", 1.0),     # 08:30 user1 -> >1h before p1
    make_event(103, 640, 2, "click", 1.0),     # 10:40 user2 -> joins p2
    make_event(104, 720, 1, "click", 1.0),     # 12:00 user1 -> joins p3
    make_event(105, 751, 1, "click", 1.0),     # 12:31 user1 -> after p3
]
#: arrives in a LATER micro-batch; within 1h of p3 (12:30), so it joins
#: iff the watermark has not yet passed 11:45.
LATE_CLICK = [make_event(106, 705, 1, "click", 1.0)]  # 11:45 user1
FLUSH_P = [make_event(900, 10_000, 50, "purchase", 0.0)]
FLUSH_C = [make_event(901, 10_000, 51, "click", 0.0)]
#: second flush batch: join-state eviction runs at END of a batch with
#: the batch's in-effect watermark, and the watermark itself only
#: advances BETWEEN batches — so the high watermark first takes effect
#: one batch after the flush, and state eviction needs that extra batch
#: to actually run before a late arrival can observe it.
FLUSH_C2 = [make_event(902, 10_001, 52, "click", 0.0)]

EXPECTED_PAIRS = {(1, 101), (2, 103), (3, 104)}


def _join_pairs(spark, tmp_path, purchase_files, click_files, name):
    purchases = write_files(tmp_path / "purchases", purchase_files)
    clicks = write_files(tmp_path / "clicks", click_files)
    joined = stream_stream_join(
        file_event_source(spark, purchases),
        file_event_source(spark, clicks),
        key="user_id",
    ).select(
        F.col("l.event_id").alias("purchase_id"),
        F.col("r.event_id").alias("click_id"),
    )
    rows = drain(joined, tmp_path / f"ckpt_{name}", name)
    return {(r["purchase_id"], r["click_id"]) for r in rows}


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Two-source streaming run emits exactly the batch join's pairs."""
    pairs = _join_pairs(
        spark,
        tmp_path,
        [("p1.json", PURCHASES)],
        [("c1.json", CLICKS)],
        "ssj_base",
    )
    assert pairs == EXPECTED_PAIRS
    # and the batch-mode run of the same function agrees
    b = stream_stream_join(
        _batch_events_df(spark, PURCHASES),
        _batch_events_df(spark, CLICKS),
        key="user_id",
    )
    batch_pairs = {
        (r["purchase_id"], r["click_id"])
        for r in b.select(
            F.col("l.event_id").alias("purchase_id"),
            F.col("r.event_id").alias("click_id"),
        ).collect()
    }
    assert batch_pairs == EXPECTED_PAIRS


def test_stream_stream_join_late_click_joins_before_watermark(spark, tmp_path):
    """Control: the late click arrives in batch 2, but nothing advanced
    the watermark past it (max prior event time 12:31 -> watermark
    11:31 < 11:45), so it still joins p3."""
    pairs = _join_pairs(
        spark,
        tmp_path,
        [("p1.json", PURCHASES)],
        [("c1.json", CLICKS), ("c2.json", LATE_CLICK)],
        "ssj_ok",
    )
    assert pairs == EXPECTED_PAIRS | {(3, 106)}


def test_stream_stream_join_watermark_drops_late_click(spark, tmp_path):
    """Far-future flush events on BOTH streams advance both watermarks,
    a spacer batch lets end-of-batch eviction run under the advanced
    watermark (see FLUSH_C2), and THEN the late click arrives -> p3's
    join state is gone and the pair must NOT appear. Dropping either
    side's watermark keeps the state alive and would admit it."""
    pairs = _join_pairs(
        spark,
        tmp_path,
        [("p1.json", PURCHASES), ("p2.json", FLUSH_P)],
        [
            ("c1.json", CLICKS),
            ("c2.json", FLUSH_C),
            ("c3.json", FLUSH_C2),
            ("c4.json", LATE_CLICK),
        ],
        "ssj_late",
    )
    assert (3, 106) not in pairs
    assert pairs == EXPECTED_PAIRS


# ---------------------------------------------------------------------------
# E19 — tumbling / session windows through the streaming state store
# ---------------------------------------------------------------------------

TUMBLE_EVENTS = [
    make_event(i, m, 1 + (i % 3), etype, float(i))
    for i, (m, etype) in enumerate(
        [(5, "view"), (20, "view"), (61, "view"), (62, "click"), (130, "view"),
         (140, "click"), (150, "click"), (185, "view"), (200, "view")]
    )
]
FLUSH_EVENT = [make_event(999, 100_000, 99, "flush", 0.0)]


def _rowset(rows, cols):
    return {tuple(r[c] for c in cols) for r in rows}


def test_tumbling_streaming_matches_batch(spark, tmp_path):
    src = write_files(
        tmp_path / "src", [("f1.json", TUMBLE_EVENTS), ("f2.json", FLUSH_EVENT)]
    )
    out = tumbling_aggregate(file_event_source(spark, src))
    rows = drain(out, tmp_path / "ckpt_tumb_s", "tumb_s")
    got = _rowset(
        [r for r in rows if r["event_type"] != "flush"],
        ("win_start", "event_type", "n", "total_value", "avg_value"),
    )
    batch = tumbling_aggregate(_batch_events_df(spark, TUMBLE_EVENTS)).collect()
    expected = _rowset(batch, ("win_start", "event_type", "n", "total_value", "avg_value"))
    assert got == expected
    assert expected  # non-trivial fixture


def test_session_streaming_matches_batch(spark, tmp_path):
    """Runs the session-window STATE STORE (streaming session windows
    merge adjacent state ranges — a different physical path from the
    batch sort-based plan)."""
    src = write_files(
        tmp_path / "src", [("f1.json", TUMBLE_EVENTS), ("f2.json", FLUSH_EVENT)]
    )
    out = sessionize(file_event_source(spark, src))
    rows = drain(out, tmp_path / "ckpt_sess_s", "sess_s")
    cols = ("user_id", "session_start", "session_last", "n_events", "total_value")
    got = _rowset([r for r in rows if r["user_id"] != 99], cols)
    batch = sessionize(_batch_events_df(spark, TUMBLE_EVENTS)).collect()
    expected = _rowset(batch, cols)
    assert got == expected
    assert len({t[0] for t in expected}) == 3  # all three users sessionized


def test_sliding_streaming_matches_batch(spark, tmp_path):
    """2h/1h hopping windows through the streaming state store: append
    mode emits each finalized hop exactly once; the flush closes all."""
    src = write_files(
        tmp_path / "src", [("f1.json", TUMBLE_EVENTS), ("f2.json", FLUSH_EVENT)]
    )
    out = sliding_aggregate(file_event_source(spark, src))
    rows = drain(out, tmp_path / "ckpt_slide_s", "slide_s")
    cols = ("win_start", "win_end", "n", "total_value")
    flush_wins = {
        r["win_start"]
        for r in sliding_aggregate(_batch_events_df(spark, FLUSH_EVENT)).collect()
    }
    got = _rowset([r for r in rows if r["win_start"] not in flush_wins], cols)
    batch = sliding_aggregate(_batch_events_df(spark, TUMBLE_EVENTS)).collect()
    expected = _rowset(batch, cols)
    assert got == expected
    assert expected


def test_stream_static_join_matches_batch(spark, tmp_path):
    """E20 stream-static: each micro-batch joins against a broadcast
    static dimension; the stream side never shuffles."""
    dim = spark.createDataFrame(
        [(1, "alice"), (2, "bob"), (3, "carol")], "user_id LONG, name STRING"
    )
    src = write_files(
        tmp_path / "src", [("f1.json", TUMBLE_EVENTS[:5]), ("f2.json", TUMBLE_EVENTS[5:])]
    )
    out = stream_static_join(
        file_event_source(spark, src), dim, on="user_id"
    ).select("event_id", "user_id", "name")
    rows = drain(out, tmp_path / "ckpt_ssj_static", "ssj_static")
    batch = (
        stream_static_join(_batch_events_df(spark, TUMBLE_EVENTS), dim, on="user_id")
        .select("event_id", "user_id", "name")
        .collect()
    )
    cols = ("event_id", "user_id", "name")
    assert _rowset(rows, cols) == _rowset(batch, cols)
    assert len(rows) == len(TUMBLE_EVENTS)  # users are 1..3, all match


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """E21 via ``dropDuplicatesWithinWatermark``: duplicates of the same
    event_id arriving within the watermark delay collapse to one row
    (keep-first), while state for long-gone keys is GC-able."""
    dup_events = [
        make_event(1, 5, 1, "view", 1.0),
        make_event(1, 6, 1, "view", 1.0),    # dup id within delay
        make_event(2, 7, 2, "view", 2.0),
        make_event(2, 7, 2, "view", 2.0),    # exact dup
        make_event(3, 8, 3, "view", 3.0),
    ]
    src = write_files(
        tmp_path / "src", [("f1.json", dup_events), ("f2.json", FLUSH_EVENT)]
    )
    out = streaming_dedup(
        file_event_source(spark, src),
        keys=("event_id",),
        watermark="10 minutes",
        within_watermark=True,
    )
    rows = drain(out, tmp_path / "ckpt_dedup_s", "dedup_s")
    ids = sorted(r["event_id"] for r in rows if r["event_type"] != "flush")
    assert ids == [1, 2, 3]


#: 13:20 user3 — no click within [12:20, 13:20] exists anywhere, so under
#: LEFT OUTER this purchase must surface null-padded once the watermark
#: proves no future click can match.
ORPHAN_P = [make_event(4, 800, 3, "purchase", 40.0)]


def test_stream_stream_left_outer_emits_null_after_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join: matched pairs emit like the inner
    join, and the never-matched purchase emits (4, NULL) — but only
    after BOTH watermarks pass its join window (flush + spacer batches,
    same choreography as the inner-join eviction test). This is a
    different state-store path from the inner join: unmatched left rows
    are retained and re-examined at watermark advance, not discarded."""
    purchases = write_files(
        tmp_path / "purchases",
        [("p1.json", PURCHASES + ORPHAN_P), ("p2.json", FLUSH_P)],
    )
    clicks = write_files(
        tmp_path / "clicks",
        [("c1.json", CLICKS), ("c2.json", FLUSH_C), ("c3.json", FLUSH_C2)],
    )
    joined = stream_stream_join(
        file_event_source(spark, purchases),
        file_event_source(spark, clicks),
        key="user_id",
        how="left_outer",
    ).select(
        F.col("l.event_id").alias("purchase_id"),
        F.col("r.event_id").alias("click_id"),
    )
    rows = drain(joined, tmp_path / "ckpt_ssj_louter", "ssj_louter")
    pairs = {(r["purchase_id"], r["click_id"]) for r in rows}
    assert EXPECTED_PAIRS <= pairs, pairs
    assert (4, None) in pairs, pairs
    # the orphan emits exactly once, and never with a phantom match
    assert sum(1 for p, _ in pairs if p == 4) == 1
