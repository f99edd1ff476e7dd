"""Checkpoint file manager of local sessions.

``get_spark`` points local sessions at Spark's FileSystem-based
checkpoint file manager (see ``session.get_spark``). These tests pin
that the setting resolves, and that the integrity checks it must not
touch stay on: Spark's checkpoint checksums keep their default, and
Hadoop's ``.crc`` files are still written next to every state-store
changelog, on both state-store providers.
"""

from __future__ import annotations

import os

from kafka_stream_faust_deprecated_spark.io import decode_ticks
from kafka_stream_faust_deprecated_spark.streaming import sma_aggregate
from tests.test_streaming_stateful import _checkpoint_manager_class
from tests.tick_fixture import build_fixture, write_ndjson

CHECKSUM_KEY = "spark.sql.streaming.checkpoint.fileChecksum.enabled"


def test_local_session_uses_filesystem_checkpoint_manager(spark, tmp_path):
    assert _checkpoint_manager_class(spark, tmp_path) == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    # The engine leaves Spark's checkpoint checksums at their default.
    assert spark.conf.get(CHECKSUM_KEY, None) is None
    assert spark.conf.get(CHECKSUM_KEY) == "true"


def test_state_changelogs_keep_crc_files(spark, tmp_path, state_backend):
    src = tmp_path / "src"
    src.mkdir()
    write_ndjson(build_fixture(), str(src / "f1.json"))
    q = (
        sma_aggregate(decode_ticks(
            spark.readStream.format("text").load(str(src)).selectExpr("value AS json")
        ))
        .writeStream.format("memory")
        .queryName(f"ckpt_crc_{state_backend}")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    suffix = ".changelog" if state_backend == "rocksdb" else ".delta"
    changelogs = [
        (d, f)
        for d, _, files in os.walk(tmp_path / "ckpt" / "state")
        for f in files
        if f.endswith(suffix)
    ]
    assert changelogs, f"no {suffix} files under the state checkpoint"
    for d, f in changelogs:
        # Hadoop's .crc of the file, and Spark's checkpoint checksum.
        assert os.path.exists(os.path.join(d, f".{f}.crc")), (d, f)
        assert os.path.exists(os.path.join(d, f"{f}.crc")), (d, f)
    for log in ("offsets", "commits"):
        names = os.listdir(tmp_path / "ckpt" / log)
        entries = [n for n in names if not n.startswith(".")]
        assert entries and all(f".{n}.crc" in names for n in entries), names
