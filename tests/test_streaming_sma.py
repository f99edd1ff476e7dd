"""Golden tests for the reference-parity SMA pipeline (SURVEY.md §5.3).

The same ``sma_aggregate`` transformation is checked three ways:
1. batch mode vs an independent dict-state golden (semantics);
2. streaming file-source mode vs the same golden (machinery: watermark,
   state store, append emission, checkpointing);
3. a late-data run proving events older than the watermark are dropped
   before they can complete a window (the reference's eviction contract,
   faust_app/ma_agg.py:54-55).
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime

import pytest

from kafka_stream_faust_deprecated_spark.io import decode_ticks, file_tick_source
from kafka_stream_faust_deprecated_spark.streaming import build_file_sma_query, sma_aggregate
from tests.tick_fixture import build_fixture, golden_sma, make_tick, write_ndjson


def _ticks_df(spark, ticks):
    return decode_ticks(
        spark.createDataFrame([(json.dumps(t),) for t in ticks], "json string")
    )


def _iso(s: str) -> str:
    return datetime.fromisoformat(s).replace(tzinfo=None).isoformat()


def _check_against_golden(rows, golden):
    got = {(r["symbol"], _iso(r["window_start"])): r for r in rows}
    assert got.keys() == {
        (sym, ws) for (sym, ws) in ((s, _iso(w)) for (s, w) in golden)
    }, "emitted window set differs from golden"
    for (sym, ws), exp in golden.items():
        r = got[(sym, _iso(ws))]
        assert r["window_data_count"] == 5
        assert r["count_of_vwap"] == exp["count_of_vwap"], (sym, ws)
        assert r["real_data_count"] == exp["real_data_count"], (sym, ws)
        assert r["filled_data_count"] == exp["filled_data_count"], (sym, ws)
        assert r["sum_of_vwap"] == pytest.approx(exp["sum_of_vwap"], abs=1e-6), (sym, ws)
        assert r["sma_value"] == pytest.approx(exp["sma_value"], abs=1e-6), (sym, ws)
        assert _iso(r["start"]) == _iso(exp["start"]), (sym, ws)
        assert _iso(r["end"]) == _iso(exp["end"]), (sym, ws)


def test_sma_batch_matches_golden(spark):
    ticks = build_fixture()
    out = sma_aggregate(_ticks_df(spark, ticks)).collect()
    golden = golden_sma(ticks)
    assert golden, "fixture produced no complete windows?"
    _check_against_golden(out, golden)
    # structural spot checks from the FIXTURES.md recipe:
    bbb = [r for r in out if r["symbol"] == "BBB"]
    # BBB misses second 30 -> exactly 5 window starts (26..30) suppressed
    assert len(bbb) == (60 - 4) - 5
    ccc = [r for r in out if r["symbol"] == "CCC"]
    # CCC zero-size seconds shrink count_of_vwap below 5 in covering windows
    assert any(r["count_of_vwap"] == 4 for r in ccc)
    assert all(r["count_of_vwap"] >= 4 for r in ccc)


def _write_files(src, files):
    """Write each ``(file name, ticks)`` as NDJSON under ``src``, with
    mtimes in list order: the file source drains oldest mtime first."""
    src.mkdir()
    for i, (fname, ticks) in enumerate(files):
        p = src / fname
        write_ndjson(ticks, str(p))
        t = time.time() - 100 + i * 10
        os.utime(p, (t, t))


def _run_file_job(spark, tmp_path, files, name):
    """The file job (``build_file_sma_query``) over ``files``, run to the
    end of its input; returns the finished query."""
    _write_files(tmp_path / "src", files)
    q = build_file_sma_query(
        spark, str(tmp_path / "src"), str(tmp_path / "ckpt"), query_name=name
    )
    q.awaitTermination(300)
    return q


def _run_stream(spark, tmp_path, files, name):
    _run_file_job(spark, tmp_path, files, name)
    return spark.sql(f"SELECT * FROM {name}").collect()


@pytest.mark.parametrize("backend", ["hdfs", "rocksdb"])
def test_sma_streaming_matches_golden(spark, tmp_path, backend):
    """File-source streaming run over 2 micro-batches; a far-future flush
    tick advances the watermark so every fixture window closes and emits
    exactly once (append mode, S27).

    Parameterized over both state store backends (SURVEY.md M6): the
    in-heap HDFS-backed default and the disk-backed RocksDB provider the
    engine selects for 100 TB keyspaces. Same golden either way — the
    backend is a storage choice, never a semantics choice."""
    from kafka_stream_faust_deprecated_spark.session import configure_state_store

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    configure_state_store(spark, backend)
    try:
        ticks = build_fixture()
        flush = [make_tick("ZZZ", 100_000, 1.0, 1, True)]
        rows = _run_stream(
            spark, tmp_path, [("f1.json", ticks), ("f2.json", flush)], f"sma_s1_{backend}"
        )
        assert all(r["symbol"] != "ZZZ" for r in rows)  # lone tick never completes
        _check_against_golden(rows, golden_sma(ticks))
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_sma_rocksdb_untracked_rows_same_golden(spark, tmp_path):
    """The round-7 perf knob (configure_state_store(track_rows=False),
    RocksDB's documented trackTotalNumberOfRows write-path toggle,
    measured ~5-10% ticks/s) is a METRICS choice, never a semantics
    choice: the same golden must hold with row tracking off. Kept off
    the engine default because the S21 eviction proof reads
    numRowsTotal (test_streaming_stateful.py)."""
    from kafka_stream_faust_deprecated_spark.session import configure_state_store

    conf_keys = (
        "spark.sql.streaming.stateStore.providerClass",
        "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
    )
    prev = {k: spark.conf.get(k, None) for k in conf_keys}
    configure_state_store(spark, "rocksdb", track_rows=False)
    try:
        ticks = build_fixture()
        flush = [make_tick("ZZZ", 100_000, 1.0, 1, True)]
        rows = _run_stream(
            spark,
            tmp_path,
            [("f1.json", ticks), ("f2.json", flush)],
            "sma_rocksdb_untracked",
        )
        assert all(r["symbol"] != "ZZZ" for r in rows)
        _check_against_golden(rows, golden_sma(ticks))
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_sma_streaming_update_mode_converges_to_golden(spark, tmp_path):
    """S27's other half: ``update`` mode restores the reference's
    per-tick freshness — a window may be emitted in several micro-batches
    as it refines, but the LAST emission per (symbol, window) must equal
    the append-mode/golden row. (The exactly-5 gate means only complete
    windows ever surface, so updates refine duplicates, not partials.)"""
    ticks = build_fixture()
    half = len(ticks) // 2
    src = tmp_path / "src"
    _write_files(src, [("f1.json", ticks[:half]), ("f2.json", ticks[half:])])
    out = sma_aggregate(file_tick_source(spark, str(src)))
    batches: list[tuple[int, list]] = []

    def sink(batch_df, epoch_id):
        batches.append((epoch_id, batch_df.collect()))

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # last emission per (symbol, window_start) wins
    latest = {}
    for epoch_id, rows in sorted(batches):
        for r in rows:
            latest[(r["symbol"], _iso(r["window_start"]))] = r
    _check_against_golden(list(latest.values()), golden_sma(ticks))
    assert len(batches) >= 2  # both micro-batches produced output


def test_sma_streaming_drops_late_data(spark, tmp_path):
    """BBB's missing second 30 arrives AFTER the watermark has finalized
    the windows that cover it -> it must NOT resurrect windows 26..30 or
    change any already-emitted row (late data silently suppresses output,
    the reference's observable eviction contract, ma_agg.py:54-57).

    The flush batch runs first so every fixture window is finalized and
    its state evicted before the straggler shows up; the straggler can
    then only re-create count-1 state, which the exactly-5 gate blocks."""
    ticks = build_fixture()
    late = [make_tick("BBB", 30, 999.0, 5, True)]
    flush = [make_tick("ZZZ", 100_000, 1.0, 1, True)]
    rows = _run_stream(
        spark,
        tmp_path,
        [("f1.json", ticks), ("f2.json", flush), ("f3.json", late)],
        "sma_s2",
    )
    _check_against_golden(rows, golden_sma(ticks))  # identical to no-late run
    bbb_starts = {_iso(r["window_start"]) for r in rows if r["symbol"] == "BBB"}
    for k in range(26, 31):
        assert f"2024-01-01T00:00:{k}" not in bbb_starts


def test_sma_streaming_late_before_finalization_counts(spark, tmp_path):
    """A straggler behind the watermark whose windows are NOT yet
    finalized still counts — Spark merges micro-batch input into live
    window state before evicting, so the windows fire WITH the late tick.

    This is the engine's one documented semantic upgrade over the
    reference (streaming/sma.py module docstring): the watermark is a
    *finalization* boundary, not an input filter — data arriving before
    its window closes improves completeness instead of being discarded
    by a processing-time prune (ma_agg.py:54-55)."""
    ticks = build_fixture()
    late = [make_tick("BBB", 30, 999.0, 5, True)]
    flush = [make_tick("ZZZ", 100_000, 1.0, 1, True)]
    rows = _run_stream(
        spark,
        tmp_path,
        [("f1.json", ticks), ("f2.json", late + flush)],
        "sma_s3",
    )
    # golden over ticks+late: windows 26..30 now complete and include 999.0
    _check_against_golden(rows, golden_sma(ticks + late))
    bbb = {
        _iso(r["window_start"]): r for r in rows if r["symbol"] == "BBB"
    }
    assert bbb["2024-01-01T00:00:30"]["sum_of_vwap"] == pytest.approx(
        999.0 + sum(200.0 - 0.25 * i for i in range(31, 35))
    )
