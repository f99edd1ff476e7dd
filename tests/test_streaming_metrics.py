"""ProgressRecorder: the engine-progress observability surface.

The reference's only monitoring is a per-tick print inside the agent
loop (faust_app/ma_agg.py:57-69); the Spark counterpart is the
engine's per-micro-batch progress stream. These tests pin that the
recorder captures real rates / state sizes / watermarks from the actual
SMA pipeline and exposes them as a queryable DataFrame.
"""

from __future__ import annotations

import os
import time

from kafka_stream_faust_deprecated_spark.io import decode_ticks
from kafka_stream_faust_deprecated_spark.streaming import sma_aggregate
from kafka_stream_faust_deprecated_spark.streaming.metrics import ProgressRecorder
from tests.tick_fixture import build_fixture, make_tick, write_ndjson


def test_progress_recorder_captures_sma_batches(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    files = [("f1.json", build_fixture()), ("f2.json", [make_tick("ZZZ", 100_000, 1.0, 1, True)])]
    for i, (fname, ticks) in enumerate(files):
        p = src / fname
        write_ndjson(ticks, str(p))
        t = time.time() - 100 + i * 10
        os.utime(p, (t, t))
    rec = ProgressRecorder().attach(spark)
    try:
        q = (
            sma_aggregate(decode_ticks(
                spark.readStream.format("text")
                .option("maxFilesPerTrigger", "1")
                .load(str(src))
                .selectExpr("value AS json")
            ))
            .writeStream.format("memory")
            .queryName("sma_metrics_test")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        # The listener bus delivers asynchronously; give it a moment.
        deadline = time.time() + 30
        while time.time() < deadline:
            if len(rec.batches("sma_metrics_test")) >= 2:
                break
            time.sleep(0.5)
        rows = rec.batches("sma_metrics_test")
        assert len(rows) >= 2, f"captured only {len(rows)} progress events"
        # Batch 0 ingests the fixture file: real rows, real state.
        first = rows[0]
        assert first["batch_id"] == 0
        assert first["num_input_rows"] > 0
        assert first["state_rows_total"] > 0
        assert first["trigger_ms"] > 0
        # Every batch carries its phase split and state commit time; the
        # phases run inside the trigger, so they cannot exceed it.
        phases = ("latest_offset_ms", "get_batch_ms", "query_planning_ms",
                  "add_batch_ms", "wal_commit_ms", "commit_offsets_ms")
        for r in rows:
            assert all(r[c] >= 0 for c in phases + ("state_commit_ms",)), r
            assert sum(r[c] for c in phases) <= r["trigger_ms"], r
        assert first["add_batch_ms"] > 0
        # State size and layout, summed over the SMA's two state
        # operators (dropDuplicates and the windowed aggregate): each
        # holds rows in memory, and each opens one store per shuffle
        # partition, a count fixed when the checkpoint was created.
        shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert first["state_memory_bytes"] > 0
        for r in rows:
            assert r["state_partitions"] == 2 * shuffle_partitions, r
        # A progress event reports the watermark the batch STARTED
        # with: batch 0 carries the epoch floor, batch 1 the
        # fixture-derived watermark (max event time 59 s - 5 s delay).
        assert any(
            r["watermark"] and r["watermark"].startswith("2024-01-01T00:00:54")
            for r in rows
        ), [r["watermark"] for r in rows]
        # Snapshot is plain SQL-queryable.
        df = rec.snapshot_df(spark, "sma_metrics_test")
        agg = df.groupBy().sum("num_input_rows").collect()[0][0]
        assert agg == sum(r["num_input_rows"] for r in rows)
        state_cols = {"state_commit_ms", "state_memory_bytes", "state_partitions"}
        assert set(phases) | state_cols <= set(df.columns)
        assert df.groupBy().max("state_memory_bytes").collect()[0][0] == max(
            r["state_memory_bytes"] for r in rows
        )
    finally:
        rec.detach(spark)


def test_snapshot_df_empty_safe(spark):
    rec = ProgressRecorder()
    df = rec.snapshot_df(spark)
    assert df.count() == 0
    assert "state_rows_total" in df.columns
    assert {"add_batch_ms", "wal_commit_ms", "state_commit_ms",
            "state_memory_bytes", "state_partitions"} <= set(df.columns)


def test_state_eviction_visible_in_progress(spark, tmp_path):
    """Keyspace-bounded state, proven from the engine's own progress
    stream: three files of DISJOINT time ranges drain through the SMA
    pipeline; as the watermark passes each range, its window state is
    evicted, so the final progress event reports a fraction of the peak
    state instead of the sum of everything ever created (the
    reference's defaultdict grows forever, faust_app/ma_agg.py:42)."""
    src = tmp_path / "src"
    src.mkdir()
    for fi, base in enumerate((0, 1000, 2000)):
        ticks = [
            make_tick(s, base + i, 10.0, 1, True)
            for s in ("AAA", "BBB")
            for i in range(60)
        ]
        p = src / f"f{fi}.json"
        write_ndjson(ticks, str(p))
        t = time.time() - 100 + fi * 10
        os.utime(p, (t, t))
    rec = ProgressRecorder().attach(spark)
    try:
        q = (
            sma_aggregate(decode_ticks(
                spark.readStream.format("text")
                .option("maxFilesPerTrigger", "1")
                .load(str(src))
                .selectExpr("value AS json")
            ))
            .writeStream.format("memory")
            .queryName("sma_evict_test")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        deadline = time.time() + 30
        while time.time() < deadline and len(rec.batches("sma_evict_test")) < 4:
            time.sleep(0.5)
        rows = rec.batches("sma_evict_test")
        assert len(rows) >= 4, f"expected 3 data batches + watermark commit, got {len(rows)}"
        peak = max(r["state_rows_total"] for r in rows)
        final = rows[-1]["state_rows_total"]
        # Peak holds ~2 files' windows; the final commit keeps only the
        # last range's unfinalizable tail. 3x headroom = eviction real.
        assert peak > 0 and final * 3 < peak, (peak, final)
        # The watermark walked through all three ranges.
        assert rows[-1]["watermark"] >= "2024-01-01T00:34"
    finally:
        rec.detach(spark)
