"""SparkSession factory tuned for both local testing and cluster scale.

Local runs use ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads, one JVM).
The config choices are the ones that matter at 100 TB on a real cluster:

* AQE on (runtime re-planning, skew-join splitting, partition coalescing)
* shuffle partitions sized to the parallelism at hand, not the 200 default
* Arrow-batched Python interchange for the few Pandas-UDF paths
* UTC session timezone — the reference container ran TZ=Asia/Taipei and
  normalized to UTC by hand (``faust_app/ma_agg.py:46-47``); we make UTC
  the engine-wide invariant instead.
* local sessions fork Python workers from the engine's ``pydaemon``,
  so a Python task no longer re-reads ``pyspark.zip`` and the
  spark-core jar when pyspark invalidates its import caches

Local-fixture caveat: the testdata parquet files are written as a SINGLE
row group, so ``spark.sql.files.maxPartitionBytes``/``openCostInBytes``
cannot split them — a byte-range split with no row-group boundary inside
it produces an empty partition. Expression-heavy scans therefore go
through ``io.load_table_parallel``, which repartitions only when the
scan under-splits relative to cluster parallelism (a no-op at real
multi-split scale). Do not "fix" local bench numbers with file-split
configs; they cannot take effect on these fixtures.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: The directory holding the engine package, which workers need on
#: their path to start ``pydaemon``.
_ENGINE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PATH_KEY = "spark.executorEnv.PYTHONPATH"


def _with_engine_path(pythonpath: str | None) -> str:
    """``pythonpath`` with the engine's parent directory appended, unless
    it is already on it."""
    entries = [p for p in (pythonpath or "").split(os.pathsep) if p]
    if _ENGINE_PARENT not in entries:
        entries.append(_ENGINE_PARENT)
    return os.pathsep.join(entries)


def _local_cpus() -> int:
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    except ValueError:
        return 32


#: Spark's two built-in streaming state store backends (SURVEY.md M6),
#: each as the confs that select it. The HDFS-backed provider keeps every
#: key in executor heap — fine for the reference's 3-symbol state, a hard
#: cap at 100 TB keyspaces. RocksDB spills state to local SSD with an
#: off-heap block cache, and changelog checkpointing makes a batch's
#: checkpoint the delta, not a full SST upload; it ships in the Spark
#: distribution (rocksdbjni is bundled). ``get_spark`` starts every session
#: on ``rocksdb``; ``configure_state_store`` or ``extra_conf`` selects
#: ``hdfs``.
STATE_STORE_PROVIDERS = {
    "hdfs": {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    },
    "rocksdb": {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    },
}


def configure_state_store(
    spark: SparkSession, backend: str, track_rows: bool = True
) -> None:
    """Select the streaming state store backend for subsequently *started*
    queries (the provider class is captured when a streaming query starts,
    so already-running queries are unaffected — and a query restarted from
    an existing checkpoint must keep the backend it was created with).

    ``backend`` is a key of ``STATE_STORE_PROVIDERS``: ``"hdfs"``
    (executor-heap state, Spark's default) or ``"rocksdb"`` (disk-backed
    state, the 100 TB choice and the engine's default).

    ``track_rows=False`` additionally disables RocksDB's
    ``trackTotalNumberOfRows`` — Spark's documented write-path perf knob
    (maintaining the count costs an extra lookup per put/delete). It
    stays ON by default because turning it off zeroes the
    ``numRowsTotal`` progress metric that ``streaming/metrics.py`` and
    the state-eviction tests read; flip it per deployment when no
    dashboard consumes state row counts.
    """
    for k, v in STATE_STORE_PROVIDERS[backend].items():
        spark.conf.set(k, v)
    if backend == "rocksdb":
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
            "true" if track_rows else "false",
        )


def get_spark(
    app_name: str = "ksfd-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    On a real cluster the ``master`` / memory settings come from
    spark-submit; everything set here is master-agnostic semantics or
    adaptive behavior that scales with the cluster.
    """
    cpus = _local_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        # Semantics
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI on, EXPLICITLY (it is the Spark 4 default, but the engine
        # depends on it, so pin it against ambient config): arithmetic
        # overflow and bad casts THROW instead of silently corrupting —
        # at 100 TB a silent long-sum wraparound is unfindable. The flip
        # side is handled at the edges: ingestion parses untrusted
        # fields with try_* functions (io.decode_ticks), so one bad
        # payload can't fail a micro-batch.
        .config("spark.sql.ansi.enabled", "true")
        # Adaptive execution: coalesce small shuffle partitions, split
        # skewed ones, demote/promote join strategies at runtime.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffle sizing: on a 1000-executor cluster this is overridden to
        # ~2-3x total cores via spark-submit; locally match the thread pool.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for Pandas-UDF / toPandas interchange (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet: push filters + prune columns at the scan.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Broadcast threshold: dims like region/nation/supplier are tiny
        # even at 100 TB fact scale; 64 MB keeps them broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # Streaming state backend (SURVEY.md M6): RocksDB, so streaming
        # state scales with executor disk instead of heap. Both providers
        # are golden-tested (tests/test_streaming_sma.py).
        .config(map=STATE_STORE_PROVIDERS["rocksdb"])
    )

    if "SPARK_LOCAL_MASTER" not in os.environ and not os.environ.get("MASTER"):
        builder = builder.master(f"local[{cpus}]")
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
        )
        # Local checkpoints go through the FileSystem API. Spark's default
        # for file: paths, the FileContext manager, makes about ten
        # permission calls per checkpoint file, and without libhadoop
        # Hadoop's local filesystem forks a chmod/ls process for each
        # one; this manager needs two (the file and its .crc). Both write
        # a temp file and finish with the same rename(2), and both keep
        # Hadoop's .crc files and Spark's checkpoint checksums. Local
        # only: cluster checkpoints (HDFS, object stores) keep Spark's
        # default manager.
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # Python workers fork from the engine's daemon module, which makes
        # zipimporter cache invalidation lazy on Python 3.10-3.12 (see
        # pydaemon.py). pyspark invalidates import caches at the start of
        # every task, and each zipimporter over pyspark.zip or the
        # spark-core jar then re-reads its archive's directory: 135-160 ms
        # of CPU per task (Python 3.11, 4-core VM). Workers find the module through the engine's
        # parent directory, which stays on any PYTHONPATH extra_conf sets,
        # so the driver's cwd need not be the checkout. Local only: on a
        # cluster the daemon starts before --py-files are on the path.
        builder = builder.config(
            "spark.python.daemon.module", "kafka_stream_faust_deprecated_spark.pydaemon"
        )
        extra_conf = dict(extra_conf or {})
        extra_conf[_WORKER_PATH_KEY] = _with_engine_path(
            extra_conf.get(_WORKER_PATH_KEY)
        )

    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: ``cached``'s entries, keyed by ((id(session), applicationId), key).
_CACHE: dict[tuple, object] = {}


def cached(spark: SparkSession, key: tuple, build):
    """``build()``, computed once per session and ``key``. A
    ``spark.newSession()`` builds its own entries, and entries from any
    other session (a stopped one included) are dropped on access."""
    owner = (id(spark), spark.sparkContext.applicationId)
    for k in [k for k in _CACHE if k[0] != owner]:
        del _CACHE[k]
    if (owner, key) not in _CACHE:
        _CACHE[owner, key] = build()
    return _CACHE[owner, key]
