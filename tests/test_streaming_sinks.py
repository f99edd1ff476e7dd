"""Idempotent-sink golden: replaying a micro-batch must not duplicate
output.

Structured Streaming replays the last un-committed micro-batch after a
crash; ``idempotent_parquet_sink`` makes that replay safe by writing
each batch under its own ``_batch_id`` partition with dynamic
overwrite. The test drives a real two-micro-batch stream through
``foreachBatch``, checks the sink contents match the batch run, then
simulates the crash-replay by invoking the batch function again with a
previously-committed (df, batch_id) pair and asserts the sink is
byte-identical — same rows, same count, no duplicates.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from kafka_stream_faust_deprecated_spark.io import file_event_source
from kafka_stream_faust_deprecated_spark.streaming.sinks import (
    BATCH_ID_COL,
    idempotent_parquet_sink,
    read_sink,
    read_upsert_table,
    upsert_latest_sink,
)
from tests.stream_drain import write_files
from tests.test_streaming_windows import make_event

BATCH_1 = [
    make_event(1, 0, 1, "purchase", 10.0),
    make_event(2, 1, 2, "click", 1.0),
]
BATCH_2 = [
    make_event(3, 2, 1, "purchase", 30.0),
    make_event(4, 3, 3, "view", 0.5),
]


def _rows(spark, out_dir):
    return {
        (r["event_id"], r["user_id"], r["event_type"], r["value"])
        for r in read_sink(spark, out_dir).collect()
    }


def test_idempotent_sink_replay_does_not_duplicate(spark, tmp_path):
    src = write_files(tmp_path / "src", [("b1.json", BATCH_1), ("b2.json", BATCH_2)])
    out_dir = str(tmp_path / "sink_out")
    sink = idempotent_parquet_sink(out_dir)

    # maxFilesPerTrigger=1 -> one micro-batch per source file.
    stream = file_event_source(spark, src).select(
        "event_id", "user_id", "event_type", "value"
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    expected = {
        (e["event_id"], e["user_id"], e["event_type"], e["value"])
        for e in BATCH_1 + BATCH_2
    }
    assert _rows(spark, out_dir) == expected

    # Two distinct micro-batch partitions were committed.
    batch_ids = {
        r[BATCH_ID_COL]
        for r in spark.read.parquet(out_dir).select(BATCH_ID_COL).distinct().collect()
    }
    assert len(batch_ids) == 2

    # Crash-replay simulation: re-run batch 0 with the same batch id —
    # the dynamic partition overwrite must replace, not append.
    replay_df = spark.createDataFrame(
        [
            (e["event_id"], e["user_id"], e["event_type"], e["value"])
            for e in BATCH_1
        ],
        "event_id long, user_id long, event_type string, value double",
    )
    sink(replay_df, min(batch_ids))
    assert _rows(spark, out_dir) == expected, "replay duplicated rows"

    # A naive append sink WOULD duplicate under the same replay — pin
    # the contrast so the idempotence is attributable to the overwrite.
    naive_out = str(tmp_path / "naive_out")
    for df, bid in ((replay_df, 0), (replay_df, 0)):
        df.withColumn(BATCH_ID_COL, F.lit(bid)).write.mode("append").partitionBy(
            BATCH_ID_COL
        ).parquet(naive_out)
    assert spark.read.parquet(naive_out).count() == 2 * len(BATCH_1)


def test_checkpoint_restart_processes_only_new_data(spark, tmp_path):
    """Exactly-once across a REAL restart: run to completion on batch 1,
    stop, add a second source file, restart from the SAME checkpoint —
    the second run must process only the new file (offsets resumed) and
    the sink must hold each row exactly once."""
    src = tmp_path / "src"
    src.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = file_event_source(spark, str(src)).select(
            "event_id", "user_id", "event_type", "value"
        )
        q = (
            stream.writeStream.foreachBatch(idempotent_parquet_sink(out_dir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    with open(src / "b1.json", "w") as f:
        for e in BATCH_1:
            f.write(json.dumps(e) + "\n")
    run_once()
    assert len(_rows(spark, out_dir)) == len(BATCH_1)

    with open(src / "b2.json", "w") as f:
        for e in BATCH_2:
            f.write(json.dumps(e) + "\n")
    run_once()

    expected = {
        (e["event_id"], e["user_id"], e["event_type"], e["value"])
        for e in BATCH_1 + BATCH_2
    }
    assert _rows(spark, out_dir) == expected, "restart lost or duplicated rows"


UPSERT_B1 = [
    make_event(1, 0, 1, "purchase", 10.0),   # user 1 v1
    make_event(2, 1, 2, "click", 1.0),       # user 2 v1
    make_event(3, 2, 3, "view", 5.0),        # user 3 v1
]
UPSERT_B2 = [
    make_event(4, 3, 1, "purchase", 99.0),   # user 1 v2 (newer ts -> wins)
    make_event(5, 4, 4, "signup", 7.0),      # user 4 new key
]


def test_upsert_latest_sink_materializes_latest_per_key(spark, tmp_path):
    src = write_files(tmp_path / "src", [("b1.json", UPSERT_B1), ("b2.json", UPSERT_B2)])
    out_dir = str(tmp_path / "mv")
    sink = upsert_latest_sink(
        spark, out_dir, key_cols=("user_id",), ts_col="ts",
        tiebreak_col="event_id", n_buckets=4,
    )
    stream = file_event_source(spark, src).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_mv"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        r["user_id"]: (r["event_id"], r["value"])
        for r in read_upsert_table(spark, out_dir).collect()
    }
    assert got == {
        1: (4, 99.0),   # upserted by batch 2
        2: (2, 1.0),
        3: (3, 5.0),
        4: (5, 7.0),    # inserted by batch 2
    }

    # Idempotence of the merge: re-applying batch 2 changes nothing.
    replay = spark.createDataFrame(
        [
            (e["event_id"], e["ts"], e["user_id"], e["event_type"], e["value"])
            for e in UPSERT_B2
        ],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    sink(replay, 1)
    again = {
        r["user_id"]: (r["event_id"], r["value"])
        for r in read_upsert_table(spark, out_dir).collect()
    }
    assert again == got, "merge replay was not idempotent"
