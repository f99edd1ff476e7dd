"""Golden tests for the explicit-Python-state SMA (E22/S4).

``sma_aggregate_stateful`` re-implements the reference's keyed
dict-state agent loop (faust_app/ma_agg.py:49-91) through
``applyInPandasWithState``; it must produce the SAME window set as the
declarative pipeline's golden (tests/tick_fixture.py), and honor the
same eviction contract: stragglers behind the watermark cannot
resurrect finalized windows.
"""

from __future__ import annotations

import os
import time
from datetime import datetime

import pytest

from kafka_stream_faust_deprecated_spark.io import decode_ticks
from kafka_stream_faust_deprecated_spark.streaming.stateful import (
    sma_aggregate_stateful,
)
from tests.tick_fixture import build_fixture, golden_sma, make_tick, write_ndjson


def _iso(s: str) -> str:
    return datetime.fromisoformat(s).replace(tzinfo=None).isoformat()


def _run_stream(spark, tmp_path, files, name):
    src = tmp_path / "src"
    src.mkdir()
    for i, (fname, ticks) in enumerate(files):
        p = src / fname
        write_ndjson(ticks, str(p))
        t = time.time() - 100 + i * 10
        os.utime(p, (t, t))
    ticks_df = decode_ticks(
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
        .selectExpr("value AS json")
    )
    q = (
        sma_aggregate_stateful(ticks_df)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(f"SELECT * FROM {name}").collect()


def _check(rows, golden):
    got = {(r["symbol"], _iso(r["window_start"])): r for r in rows}
    assert got.keys() == {(s, _iso(w)) for (s, w) in golden}
    for (sym, ws), exp in golden.items():
        r = got[(sym, _iso(ws))]
        assert r["window_data_count"] == 5
        assert r["count_of_vwap"] == exp["count_of_vwap"], (sym, ws)
        assert r["real_data_count"] == exp["real_data_count"], (sym, ws)
        assert r["filled_data_count"] == exp["filled_data_count"], (sym, ws)
        assert r["sum_of_vwap"] == pytest.approx(exp["sum_of_vwap"], abs=1e-6)
        assert r["sma_value"] == pytest.approx(exp["sma_value"], abs=1e-6)
        assert _iso(r["start"]) == _iso(exp["start"]), (sym, ws)
        assert _iso(r["end"]) == _iso(exp["end"]), (sym, ws)


def test_stateful_sma_matches_golden(spark, tmp_path):
    ticks = build_fixture()
    rows = _run_stream(spark, tmp_path, [("f1.json", ticks)], "sfs_1")
    _check(rows, golden_sma(ticks))


def test_stateful_sma_idle_state_evicted(spark, tmp_path):
    """Idle-key TTL: after a far-future flush tick advances the
    watermark past every fixture symbol's buffered seconds, the
    event-time timeout must REMOVE those keys' state rows — the
    reference's defaultdict would keep all of them forever
    (ma_agg.py:42). Only the flush symbol's own fresh state may
    remain."""
    ticks = build_fixture()
    flush = [make_tick("ZZZ", 100_000, 1.0, 1, True)]
    src = tmp_path / "src"
    src.mkdir()
    for i, (fname, batch) in enumerate([("f1.json", ticks), ("f2.json", flush)]):
        p = src / fname
        write_ndjson(batch, str(p))
        t = time.time() - 100 + i * 10
        os.utime(p, (t, t))
    ticks_df = decode_ticks(
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
        .selectExpr("value AS json")
    )
    q = (
        sma_aggregate_stateful(ticks_df)
        .writeStream.format("memory")
        .queryName("sfs_ttl")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # output must still equal the golden (TTL is storage-only)
    rows = spark.sql("SELECT * FROM sfs_ttl").collect()
    _check([r for r in rows if r["symbol"] != "ZZZ"], golden_sma(ticks))
    # state rows after the flush batch: every fixture symbol evicted,
    # at most ZZZ's own state survives
    progress = q.recentProgress
    assert progress, "no progress events recorded"
    last_rows = progress[-1]["stateOperators"][0]["numRowsTotal"]
    assert last_rows <= 1, (
        f"idle state not evicted: {last_rows} state rows remain"
    )


#: Spark's default checkpoint file manager for ``file:`` and HDFS paths.
_FILECONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _checkpoint_manager_class(spark, path) -> str:
    """The checkpoint file manager a query started now would use for
    ``path``."""
    jvm = spark._jvm
    return (
        jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
        .create(
            jvm.org.apache.hadoop.fs.Path(str(path)),
            spark._jsparkSession.sessionState().newHadoopConf(),
        )
        .getClass()
        .getName()
    )


def _restart_resumes_state(spark, tmp_path, first_manager=None):
    """Run the first half of the fixture, stop, then restart on the same
    checkpoint with the rest; ``first_manager`` is the checkpoint file
    manager class of the first run (None: the session's own)."""
    ticks = build_fixture()
    half = len(ticks) // 2
    src = tmp_path / "src"
    src.mkdir()
    p1 = src / "f1.json"
    write_ndjson(ticks[:half], str(p1))
    os.utime(p1, (time.time() - 100, time.time() - 100))

    collected: list = []

    def _start():
        ticks_df = decode_ticks(
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", "1")
            .load(str(src))
            .selectExpr("value AS json")
        )
        return (
            sma_aggregate_stateful(ticks_df)
            .writeStream.foreachBatch(
                lambda df, _epoch: collected.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    key = "spark.sql.streaming.checkpointFileManagerClass"
    prior = spark.conf.get(key, None)
    if first_manager is not None:
        spark.conf.set(key, first_manager)
        assert _checkpoint_manager_class(spark, tmp_path) == first_manager
    try:
        q1 = _start()
        q1.awaitTermination(300)
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
    assert q1.lastProgress is not None and q1.lastProgress["batchId"] >= 1

    p2 = src / "f2.json"
    write_ndjson(ticks[half:], str(p2))
    os.utime(p2, (time.time() - 50, time.time() - 50))
    flush = src / "f3.json"
    write_ndjson([make_tick("ZZZ", 100_000, 1.0, 1, True)], str(flush))
    os.utime(flush, (time.time() - 40, time.time() - 40))

    q2 = _start()
    q2.awaitTermination(300)

    rows = [r for r in collected if r["symbol"] != "ZZZ"]
    # append mode + restored emitted-set => every window exactly once
    keys = [(r["symbol"], _iso(r["window_start"])) for r in rows]
    assert len(keys) == len(set(keys)), "restart re-emitted windows"
    _check(rows, golden_sma(ticks))


def test_stateful_sma_checkpoint_restart_resumes_state(spark, tmp_path, state_backend):
    """Durability (the reference's changelog-topic story, ma_agg.py:42):
    stop the query mid-stream, start a NEW query on the same checkpoint,
    feed the rest of the fixture — buffered seconds, emitted-window set,
    and armed timeouts must all come back from the state store, so the
    combined output equals the single-run golden with no duplicates and
    no losses across the restart boundary."""
    _restart_resumes_state(spark, tmp_path)


def test_stateful_sma_resumes_filecontext_checkpoint(spark, tmp_path, state_backend):
    """A checkpoint written through Spark's default FileContext manager,
    by any session without the engine's local setting, resumes under
    the local FileSystem manager: the output equals the golden with no
    window emitted twice."""
    _restart_resumes_state(spark, tmp_path, first_manager=_FILECONTEXT_MANAGER)


def test_stateful_sma_straggler_cannot_resurrect(spark, tmp_path):
    """A flush batch advances the watermark and prunes BBB's buffered
    seconds around the gap; the straggler for second 30 then arrives
    alone and can only rebuild count-1 state -> windows 26..30 stay
    suppressed, output identical to the no-straggler run."""
    ticks = build_fixture()
    flush = [make_tick("ZZZ", 100_000, 1.0, 1, True)]
    late = [make_tick("BBB", 30, 999.0, 5, True)]
    rows = _run_stream(
        spark,
        tmp_path,
        [("f1.json", ticks), ("f2.json", flush), ("f3.json", late)],
        "sfs_2",
    )
    _check(rows, golden_sma(ticks))
    bbb_starts = {_iso(r["window_start"]) for r in rows if r["symbol"] == "BBB"}
    for k in range(26, 31):
        assert f"2024-01-01T00:00:{k}" not in bbb_starts
