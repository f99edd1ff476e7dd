"""Durability tests for the SMA pipeline's state (E22/S4, S21).

The reference keeps its per-symbol state in a Faust table backed by a
changelog topic (faust_app/ma_agg.py:42). The engine keeps the same
state in the two state operators of ``sma_aggregate`` (dedup and the
windowed aggregate) and checkpoints it between micro-batches. These
tests run ``sma_aggregate`` fed through ``io.file_tick_source``, the
edge the file job and perfbench use, and pin that the state survives a
restart from a checkpoint and is evicted once the watermark passes it.
"""

from __future__ import annotations

from kafka_stream_faust_deprecated_spark.io import file_tick_source
from kafka_stream_faust_deprecated_spark.streaming import sma_aggregate
from tests.stream_drain import write_files
from tests.test_checkpoint_files import _checkpoint_manager_class
from tests.test_streaming_sma import _check_against_golden, _iso, _run_file_job
from tests.tick_fixture import build_fixture, golden_sma, make_tick


def test_stateful_sma_idle_state_evicted(spark, tmp_path):
    """After a far-future flush tick the watermark passes every fixture
    symbol's seconds, so both state operators evict those symbols'
    rows; the reference's defaultdict would keep all of them forever
    (ma_agg.py:42).

    The bound, from the progress events: batch 0 ingests the fixture
    (watermark 54 s after it), batch 1 the flush tick for second 100000
    (watermark 99995 s after it), and the no-data batch 2 evicts under
    that watermark. What may remain is the flush symbol's own state:
    its one dedup row (second 100000) and the 5 sliding windows that
    contain that second, none of which ends at or before 99995 s."""
    ticks = build_fixture()
    flush = [make_tick("ZZZ", 100_000, 1.0, 1, True)]
    q = _run_file_job(
        spark, tmp_path, [("f1.json", ticks), ("f2.json", flush)], "sfs_ttl"
    )
    # output must still equal the golden (eviction is storage-only)
    rows = spark.sql("SELECT * FROM sfs_ttl").collect()
    _check_against_golden([r for r in rows if r["symbol"] != "ZZZ"], golden_sma(ticks))
    progress = q.recentProgress
    assert progress, "no progress events recorded"
    state = {op["operatorName"]: op["numRowsTotal"] for op in progress[-1]["stateOperators"]}
    assert state.keys() == {"dedupe", "stateStoreSave"}, state
    assert state["dedupe"] <= 1, f"idle dedup state not evicted: {state}"
    assert state["stateStoreSave"] <= 5, f"idle window state not evicted: {state}"


#: Spark's default checkpoint file manager for ``file:`` and HDFS paths.
_FILECONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _restart_resumes_state(spark, tmp_path, first_manager=None):
    """Run the first half of the fixture, stop, then restart on the same
    checkpoint with the rest; ``first_manager`` is the checkpoint file
    manager class of the first run (None: the session's own)."""
    ticks = build_fixture()
    half = len(ticks) // 2
    src = tmp_path / "src"
    write_files(src, [("f1.json", ticks[:half])])

    collected: list = []

    def _start():
        return (
            sma_aggregate(file_tick_source(spark, str(src)))
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

    flush = [make_tick("ZZZ", 100_000, 1.0, 1, True)]
    write_files(src, [("f2.json", ticks[half:]), ("f3.json", flush)])

    q2 = _start()
    q2.awaitTermination(300)

    rows = [r for r in collected if r["symbol"] != "ZZZ"]
    # append mode + restored state => every window exactly once
    keys = [(r["symbol"], _iso(r["window_start"])) for r in rows]
    assert len(keys) == len(set(keys)), "restart re-emitted windows"
    _check_against_golden(rows, golden_sma(ticks))


def test_stateful_sma_checkpoint_restart_resumes_state(spark, tmp_path):
    """Durability (the reference's changelog-topic story, ma_agg.py:42):
    stop the query mid-stream, start a NEW query on the same checkpoint,
    feed the rest of the fixture — the consumed files, the watermark and
    both operators' state (deduped seconds, partial windows) must all
    come back from the checkpoint, so the combined output equals the
    single-run golden with no duplicates and no losses across the
    restart boundary."""
    _restart_resumes_state(spark, tmp_path)


def test_stateful_sma_resumes_filecontext_checkpoint(spark, tmp_path):
    """A checkpoint written through Spark's default FileContext manager,
    by any session without the engine's local setting, resumes under
    the local FileSystem manager: the output equals the golden with no
    window emitted twice."""
    _restart_resumes_state(spark, tmp_path, first_manager=_FILECONTEXT_MANAGER)
