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

from tests.test_streaming_sma import _run_file_job
from tests.tick_fixture import build_fixture

CHECKSUM_KEY = "spark.sql.streaming.checkpoint.fileChecksum.enabled"


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


def test_local_session_uses_filesystem_checkpoint_manager(spark, tmp_path):
    assert _checkpoint_manager_class(spark, tmp_path) == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    # The engine leaves Spark's checkpoint checksums at their default.
    assert spark.conf.get(CHECKSUM_KEY, None) is None
    assert spark.conf.get(CHECKSUM_KEY) == "true"


def test_state_changelogs_keep_crc_files(spark, tmp_path, state_backend):
    _run_file_job(
        spark, tmp_path, [("f1.json", build_fixture())], f"ckpt_crc_{state_backend}"
    )
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
