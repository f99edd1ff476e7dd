"""SparkSession factory tuned for both local testing and cluster scale.

Local runs use ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads, one JVM).
The config choices are the ones that matter at 100 TB on a real cluster:

* AQE on (runtime re-planning, skew-join splitting, partition coalescing)
* shuffle partitions sized to the parallelism at hand, not the 200 default
* Arrow-batched Python interchange for the few Pandas-UDF paths
* one streaming state store for every query: RocksDB with changelog
  checkpointing (``STATE_STORE_CONF``), so keyed state lives on executor
  disk, not heap
* UTC session timezone — the reference container ran TZ=Asia/Taipei and
  normalized to UTC by hand (``faust_app/ma_agg.py:46-47``); we make UTC
  the engine-wide invariant instead.
* a codegen cache that holds every generated class the registered
  queries need (``spark.sql.codegen.cache.maxEntries``), so a query
  compiles its whole-stage classes once per JVM, not again on each run
  after other queries have pushed them out of Spark's 100-entry default
* local sessions fork Python workers from the engine's ``pydaemon``,
  so a Python task no longer re-reads ``pyspark.zip`` and the
  spark-core jar when pyspark invalidates its import caches
* a local session's driver JVM maps a class-data-sharing archive of
  Spark's classes, recorded once per install at the exit of the first
  session and kept in ``${XDG_CACHE_HOME:-~/.cache}/spark-graft/``
  (``cds.py``): it skips most of the class loading and verification that
  dominate a cold start

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

from kafka_stream_faust_deprecated_spark import cds


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


#: The streaming state store (SURVEY.md M6): RocksDB, the one provider
#: every engine session runs. It spills state to local SSD with an
#: off-heap block cache, so state scales with executor disk, not heap,
#: as 100 TB keyspaces need; changelog checkpointing makes a batch's
#: checkpoint the delta, not a full SST upload. It ships in the Spark
#: distribution (rocksdbjni is bundled). ``trackTotalNumberOfRows`` stays
#: at Spark's default (on): the ``numRowsTotal`` progress metric that
#: ``streaming/metrics.py`` and the state-eviction tests read needs it.
STATE_STORE_CONF = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def get_spark(
    app_name: str = "ksfd-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    On a real cluster the ``master`` / memory settings come from
    spark-submit; everything set here is master-agnostic semantics or
    adaptive behavior that scales with the cluster.
    """
    cpus = _local_cpus()

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
        .config("spark.sql.shuffle.partitions", str(cpus))
        # Arrow for Pandas-UDF / toPandas interchange (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet: push filters + prune columns at the scan.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Broadcast threshold: dims like region/nation/supplier are tiny
        # even at 100 TB fact scale; 64 MB keeps them broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # No UI: a caller that wants it sets it through extra_conf.
        .config("spark.ui.enabled", "false")
        # Generated classes stay compiled for the life of the JVM. Spark's
        # 100-entry codegen cache is smaller than the engine's working set:
        # one registration-order pass over the registry at sf0.001 fills
        # ~2,720 entries (most whole-stage classes twice in a local
        # session, driver and executor side) and each later pass adds
        # ~45-120 that differ only in AQE's stage numbering. The 8
        # llm_curation queries alone need ~270: at 100 every warm pass
        # recompiled ~240 of them with Janino, at 4096 it compiles 0-10.
        # Costs ~8 MB more metaspace on a whole-registry session. Static:
        # read once, when the JVM's code generator builds its cache.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config(map=STATE_STORE_CONF)
    )

    launch = None
    if "SPARK_LOCAL_MASTER" not in os.environ and not os.environ.get("MASTER"):
        builder = builder.master(f"local[{cpus}]")
        heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
        builder = builder.config("spark.driver.memory", heap)
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
        # The driver JVM maps (or records) a class-data-sharing archive
        # (see cds.py). The flags go after any default options the caller
        # gave; the caller's extraJavaOptions are left as they are.
        launch = cds.prepare(extra_conf.get("spark.driver.memory", heap), extra_conf)
        if launch is not None:
            key = "spark.driver.defaultJavaOptions"
            extra_conf[key] = " ".join(filter(None, (extra_conf.get(key), launch.java_options)))

    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)

    spark = cds.start(launch, builder.getOrCreate)
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
