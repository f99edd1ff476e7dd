"""Golden tests for streaming Space-Saving heavy hitters (S4/E22).

Two regimes: (1) every user's distinct event types fit the counter
budget — the sketch is exact and the emitted rows must be IDENTICAL to
the batch twin ``heavy_hitters_exact_df``; (2) a constructed overflow
— the three Space-Saving guarantees (never undercounts, err bounds the
overcount, any value above n/capacity survives) must hold against the
true counts.
"""

from __future__ import annotations

from collections import Counter
from datetime import datetime, timedelta, timezone

from kafka_stream_faust_deprecated_spark.io import file_event_source
from kafka_stream_faust_deprecated_spark.queries.extras import (
    HH_CAPACITY as CAPACITY,
    HH_K as K,
    heavy_hitters_exact_df,
)
from kafka_stream_faust_deprecated_spark.streaming.episodes import (
    heavy_hitters_stateful,
)
from tests.stream_drain import drain, write_files

HORIZON = 60

T0 = datetime(2024, 3, 1, tzinfo=timezone.utc)


def _line(row):
    u, eid, off, et = row
    ts = (T0 + timedelta(seconds=off)).strftime("%Y-%m-%d %H:%M:%S")
    return {"user_id": u, "event_id": eid, "ts": ts, "event_type": et}


def _run(spark, tmp_path, name, files):
    src = write_files(tmp_path / "src", files, _line)
    return drain(
        heavy_hitters_stateful(file_event_source(spark, src), horizon=HORIZON),
        tmp_path / "ckpt",
        name,
    )


def _flush(off):
    """Watermark-advancing events from a sacrificial user whose own
    state never emits (the query stops before their timeout)."""
    return [(999, 90001, off, "flush")]


def _exact_fixture():
    """Users 1/2: ≤8 distinct types each, skewed counts with a tie
    (user 1: b and c both x3 — the value tie-break must order them)."""
    rows, eid = [], 0
    for u, types in (
        (1, ["a"] * 5 + ["b"] * 3 + ["c"] * 3 + ["d"] * 1),
        (2, ["x"] * 4 + ["y"] * 2 + ["z"] * 2 + ["w"] * 1 + ["v"] * 1),
    ):
        for i, et in enumerate(types):
            eid += 1
            rows.append((u, eid, i * 10, et))
    return rows


def _batch_twin(spark, fixture):
    ev = spark.createDataFrame(
        [
            (u, eid, (T0 + timedelta(seconds=off)).replace(tzinfo=None), et)
            for u, eid, off, et in fixture
        ],
        "user_id long, event_id long, ts timestamp, event_type string",
    )
    return heavy_hitters_exact_df(ev, horizon=HORIZON)


def test_sketch_state_is_capacity_bounded():
    """The whole point of the sketch: state NEVER exceeds the counter
    budget, no matter how many distinct values stream past (pure
    Python — exercises _update directly with 10k distinct values)."""
    from kafka_stream_faust_deprecated_spark.streaming.episodes import _update

    sketch = {"c": {}, "n": 0}
    for i in range(10_000):
        _update(sketch, f"v{i % 3000:04d}", CAPACITY)
        assert len(sketch["c"]) <= CAPACITY
    assert sketch["n"] == 10_000
    # total mass conservation: counts sum to n exactly (every eviction
    # transfers the victim's count into the successor)
    assert sum(c for c, _e in sketch["c"].values()) <= 10_000
    assert all(e < c for c, e in sketch["c"].values())


def test_exact_regime_matches_batch_twin(spark, tmp_path):
    fixture = _exact_fixture()
    got = _run(
        spark,
        tmp_path,
        "hh_exact",
        [("f1.json", fixture), ("f2.json", _flush(100_000))],
    )
    got_rows = sorted(
        tuple(r) for r in got if r["user_id"] in (1, 2)
    )
    want = sorted(tuple(r) for r in _batch_twin(spark, fixture).collect())
    assert got_rows == want
    assert all(r[4] == 0 for r in got_rows), "exact regime => err 0"
    assert all(r[1] == 1 for r in got_rows), "single burst => episode 1"


def test_heavy_hitters_checkpoint_restart(spark, tmp_path):
    """Durability: stop mid-burst (each user's counters half-built),
    restart a new query on the same checkpoint, feed the rest + flush —
    the emitted summaries must still be IDENTICAL to the batch twin
    (restored Space-Saving counters, no episode split at the restart
    boundary, no duplicates). foreachBatch because memory-sink queries
    refuse checkpoint recovery."""
    fixture = _exact_fixture()
    # Split by EVENT TIME, not list position: the first run advances
    # the watermark to its max event time, so any event routed to the
    # post-restart file must not sit behind it (a list-position split
    # puts all of user 2 behind user 1's watermark and the engine
    # rightly drops them as late).
    first = [r for r in fixture if r[2] <= 50]
    rest = [r for r in fixture if r[2] > 50]
    assert first and rest
    src = tmp_path / "src"
    collected: list = []

    def _start():
        return (
            heavy_hitters_stateful(
                file_event_source(spark, str(src)), horizon=HORIZON
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

    got_rows = sorted(tuple(r) for r in collected if r["user_id"] in (1, 2))
    assert len(got_rows) == len(set(got_rows)), "restart re-emitted rows"
    want = sorted(tuple(r) for r in _batch_twin(spark, fixture).collect())
    assert got_rows == want


def test_two_bursts_split_into_numbered_episodes(spark, tmp_path):
    """A user active in two >horizon-separated bursts must yield TWO
    well-defined summaries — episode 1 and 2, each row-identical to
    the batch twin's episode derivation (no silent duplicate of one
    per-user contract)."""
    rows, eid = [], 0
    for off, et in ((0, "a"), (10, "a"), (20, "b")):  # burst 1
        eid += 1
        rows.append((7, eid, off, et))
    for off, et in ((500, "b"), (510, "b"), (520, "c")):  # burst 2
        eid += 1
        rows.append((7, eid, off, et))
    got = _run(
        spark,
        tmp_path,
        "hh_bursts",
        [("f1.json", rows), ("f2.json", _flush(100_000))],
    )
    mine = sorted(tuple(r) for r in got if r["user_id"] == 7)
    want = sorted(tuple(r) for r in _batch_twin(spark, rows).collect())
    assert mine == want
    assert {r[1] for r in mine} == {1, 2}
    ep1 = [r for r in mine if r[1] == 1]
    assert all(r[5] == 3 for r in ep1), "episode 1 counts only burst 1"


def _overflow_fixture(step):
    """User 3 sees 12 distinct types under an 8-counter budget: 'hot'
    x30 (> n/capacity) plus 11 cold types x2, one event every ``step``
    seconds."""
    rows, eid = [], 0
    colds = [f"cold{i:02d}" for i in range(11)]
    seq: list[str] = []
    # two passes over the cold types with hots interleaved, then the
    # remaining hots — deterministic, and late colds arrive after the
    # budget is full so evictions actually happen
    for _p in range(2):
        for i, c in enumerate(colds):
            seq.append(c)
            if i % 2 == 0:
                seq.append("hot")
    seq += ["hot"] * (30 - seq.count("hot"))
    for i, et in enumerate(seq):
        eid += 1
        rows.append((3, eid, i * step, et))
    return rows


def test_overflow_regime_space_saving_guarantees(spark, tmp_path):
    """User 3 sees 12 distinct types under an 8-counter budget: 'hot'
    x30 (> n/capacity) plus 11 cold types x2."""
    rows = _overflow_fixture(5)
    true = Counter(et for _u, _e, _o, et in rows)
    n = len(rows)

    got = _run(
        spark,
        tmp_path,
        "hh_overflow",
        [("f1.json", rows), ("f2.json", _flush(200_000))],
    )
    mine = [r for r in got if r["user_id"] == 3]
    assert 0 < len(mine) <= K
    assert all(r["n_events"] == n for r in mine)
    for r in mine:
        t = true[r["event_type"]]
        assert r["est_count"] >= t, "Space-Saving never undercounts"
        assert r["est_count"] - r["max_err"] <= t, "err bounds the overcount"
    hot_rows = [r for r in mine if r["event_type"] == "hot"]
    assert hot_rows and hot_rows[0]["rnk"] == 1, (
        f"a value with count 30 > n/capacity={n / CAPACITY:.1f} must surface"
    )
    assert hot_rows[0]["est_count"] >= 30


def test_overflow_rows_do_not_depend_on_batch_boundaries(spark, tmp_path):
    """In the overflow regime eviction depends on fold order, so the
    rows pin it: the same on-time events fed as one file, and split
    across two micro-batches with four events arriving after later
    ones (yet within the 10 s watermark), must give identical rows."""
    rows = _overflow_fixture(1)
    early = [r for r in rows if r[2] <= 30 and r[2] not in (22, 24, 26, 28)]
    late = [r for r in rows if r not in early]
    runs = []
    for name, files in (
        ("hh_one_file", [("f1.json", rows)]),
        ("hh_two_files", [("f1.json", early), ("f2.json", late)]),
    ):
        (tmp_path / name).mkdir()
        got = _run(
            spark,
            tmp_path / name,
            name,
            files + [("f9.json", _flush(200_000))],
        )
        runs.append(sorted(tuple(r) for r in got if r["user_id"] == 3))
    assert runs[0], "the overflow episode never closed"
    assert runs[0] == runs[1]
