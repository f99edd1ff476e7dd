"""Batch + stream source/sink builders.

Batch: Parquet scans of the driver's fixture tables.  Projection and
filters declared on these DataFrames reach the scan (Catalyst pushdown) —
verify with ``df.explain("formatted")`` -> ``PushedFilters`` / ``ReadSchema``.

Stream: the reference's only I/O is Kafka JSON (faust_app/ma_agg.py:40,44).
``kafka_tick_source`` / ``kafka_sink`` are the production path;
``file_tick_source`` and ``memory_sink`` are the deterministic test path
(same transformations, swappable edges).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_stream_faust_deprecated_spark.schemas import BATCH_TABLES, STOCK_TICK_SCHEMA
from kafka_stream_faust_deprecated_spark.session import cached

TABLES = BATCH_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan. Schema comes from the footer; filters/projection on
    the returned DataFrame push down into this scan.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark 4
    rejects outright; we read nanos as long (legacy conf) and truncate to
    microseconds JVM-side — the same ns->us truncation DuckDB applies on
    read, so both engines see identical values.

    The relation (schema + file listing, not data) is built once per
    session: re-reading an immutable fixture table would pay parquet
    footer + listing py4j work on every query construction.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")

    def build() -> DataFrame:
        if name == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(table_path(sf_dir, name))
            if dict(df.dtypes).get("ts") == "bigint":
                df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
            return df
        return spark.read.parquet(table_path(sf_dir, name))

    return cached(spark, ("table", sf_dir, name), build)


#: Unique(-ish) key column used by the under-split shim's hash
#: repartition, per table. Hash partitioning instead of round-robin
#: because Spark's round-robin exchange LOCALLY SORTS its input first
#: (SPARK-23207, ``spark.sql.execution.sortBeforeRepartition`` — on by
#: default so retried tasks reproduce the same row placement), a hidden
#: full-width sort of the table on every shimmed scan: measured at
#: sf0.1, lineitem noop-scan 0.834 s via round-robin vs 0.485 s via
#: hash on l_orderkey (plain 1-task scan 0.157 s), with near-even
#: spread (18.4k-19.4k rows across 32 partitions). Hashing DATA keeps
#: the retry-determinism the local sort exists to provide (guide §2.5:
#: derive synthetic keys deterministically), and a key-hash exchange
#: can additionally satisfy downstream ClusteredDistributions a
#: round-robin exchange never can.
SHIM_KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def load_table_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan, guaranteed to parallelize across the cluster.

    The fixture parquet files are written as a SINGLE row group, so the
    file-split configs (``maxPartitionBytes``/``openCostInBytes``) cannot
    produce more than one non-empty scan partition — every expression-heavy
    stage downstream (tokenize, md5 signatures) would run as one task on a
    32-core machine. The guard repartitions ONLY when the scan under-splits
    relative to cluster parallelism: at 100 TB the scan has thousands of
    splits and this is a no-op (no shuffle added); on the small local
    fixtures it is a sub-MB keyed exchange that unlocks all cores
    (hash on the table's unique key, not round-robin — see SHIM_KEYS
    for the measured sort-before-repartition cost this avoids).
    """

    def build() -> DataFrame:
        df = load_table(spark, sf_dir, name)
        par = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() >= par:
            return df
        shim_key = SHIM_KEYS.get(name)
        if shim_key is not None:
            return df.repartition(par, F.col(shim_key))
        return df.repartition(par)

    return cached(spark, ("table_parallel", sf_dir, name), build)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views for spark.sql queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# Streaming edges (reference parity: S1 source, S2 sink — ma_agg.py:40,44,78)
# ---------------------------------------------------------------------------

def kafka_tick_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "kafka_per_sec_data",
    starting_offsets: str = "latest",
) -> DataFrame:
    """S1 — Kafka source scan: subscribe + JSON decode to the typed tick row.

    Mirrors ``app.topic('kafka_per_sec_data', value_type=StockData)``
    (faust_app/ma_agg.py:40, consumed at :83-85). Deserialization happens
    JVM-side via ``from_json`` (no Python in the hot path).

    Environment gate (re-probed 2026-08-15): this sandbox ships neither
    a broker binary nor the ``spark-sql-kafka`` connector jar (pip
    pyspark bundles no kafka jars), so the path is untestable live
    here. On a real deployment add
    ``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark ver>``.
    Everything downstream of the source (decode -> SMA -> sink) is
    golden-tested through ``file_tick_source`` and the custom
    ``stock_ticks`` DataSource, which share this exact decode path.
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return decode_ticks(raw.select(F.col("value").cast("string").alias("json")))


def file_tick_source(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """Deterministic test source: newline-delimited JSON tick files."""
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )
    return decode_ticks(raw.select(F.col("value").alias("json")))


#: events-shaped JSON rows for the generic windowed/join streaming tests
#: (same columns as the batch ``events`` fixture table).
EVENT_JSON_SCHEMA = (
    "event_id LONG, ts STRING, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)


def file_event_source(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Deterministic test source for events-shaped NDJSON streams (the
    file twin of a Kafka events topic): one typed row per line with a
    parsed event-time ``ts``."""
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )
    return decode_events(raw.select(F.col("value").alias("json")))


def decode_events(json_df: DataFrame) -> DataFrame:
    """JSON string -> typed events row (streaming twin of the batch
    ``events`` table schema)."""
    return (
        json_df.select(F.from_json("json", EVENT_JSON_SCHEMA).alias("r"))
        .select("r.*")
        .withColumn("ts", F.try_to_timestamp("ts"))
    )


def decode_ticks(json_df: DataFrame) -> DataFrame:
    """JSON string -> typed columns + parsed event-time ``ts``.

    The ISO-8601 parse replicates ``datetime.fromisoformat(event.current_time)``
    (faust_app/ma_agg.py:87) but JVM-side and vectorized — via
    ``try_to_timestamp``, because under ANSI mode (Spark 4 default) a
    plain ``to_timestamp`` THROWS on one malformed payload and fails the
    whole micro-batch, turning a single bad producer message into an
    outage (the reference has exactly this failure mode: fromisoformat
    raises per event). Malformed rows parse to null ts and never enter
    a window; use ``decode_ticks_audited`` to count and route them.
    """
    return (
        json_df.select(F.from_json("json", STOCK_TICK_SCHEMA).alias("r"))
        .select("r.*")
        .withColumn("ts", F.try_to_timestamp("current_time"))
    )


def decode_ticks_audited(json_df: DataFrame) -> DataFrame:
    """``decode_ticks`` with a quarantine flag instead of silent nulls.

    ``from_json`` is PERMISSIVE: a syntactically broken payload yields a
    null struct, and a well-formed payload missing required fields
    yields nulls in those columns — either way the bare decoder's rows
    silently vanish later (null event time never enters a window). A
    production ingest wants them COUNTED and ROUTED: this variant keeps
    the raw payload column and adds ``_malformed`` (unparseable, or
    missing symbol/current_time — the reference would have thrown in
    ``datetime.fromisoformat``, faust_app/ma_agg.py:87). Callers split
    on the flag: good rows continue to the pipeline, bad rows go to a
    dead-letter sink with their original bytes. Pure projection — same
    single-pass cost as decode_ticks."""
    parsed = json_df.select("json", F.from_json("json", STOCK_TICK_SCHEMA).alias("r"))
    malformed = (
        F.col("r").isNull()
        | F.col("r.symbol").isNull()
        | F.col("r.current_time").isNull()
        | F.try_to_timestamp(F.col("r.current_time")).isNull()
    )
    return (
        parsed.withColumn("_malformed", malformed)
        .select("json", "_malformed", "r.*")
        .withColumn("ts", F.try_to_timestamp("current_time"))
    )


def kafka_sink(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str = "kafka_MA_data_aggregated",
    checkpoint_dir: str = "tmp/spark_checkpoints/ma_agg",
):
    """S2 — Kafka sink: serialize every column to one JSON value.

    Mirrors ``await aggregated_topic.send(value=aggregated)``
    (faust_app/ma_agg.py:44,78). Returns an un-started DataStreamWriter so
    callers choose trigger/output mode. Checkpoint location matches the
    layout the reference author had already planned (.gitignore:149-153).
    """
    payload = df.select(
        F.col("symbol").cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
    )
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
    )


def binary_file_source(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """E26 — raw-media ingestion via Spark's ``binaryFile`` source: each
    file becomes one row of (path, modificationTime, length, content
    binary). This is the front door of the multimodal pipeline — image/
    audio/video blobs land here, get typed metadata attached, and flow
    into ``functions.multimodal.extract_features`` WITHOUT ever passing
    through the driver.

    Scale notes: the source parallelizes over files (one split per file
    — binary payloads don't split), so 100 TB of media across millions
    of objects scans wide; ``pathGlobFilter`` prunes at listing time
    (never opens non-matching files) and ``max_bytes`` guards executors
    against single-file OOM by filtering on the LENGTH metadata column
    before any content is materialized.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.where(F.col("length") <= max_bytes)
    return df


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_file_mb: int = 128,
    partition_cols: tuple[str, ...] = (),
) -> dict:
    """Small-file compaction — the table-maintenance pass every lakehouse
    runs after streaming/incremental ingest: rewrite a parquet directory
    into ~``target_file_mb`` files so later scans see a few well-sized
    row groups instead of thousands of per-micro-batch fragments (each
    small file costs a scan task, a footer read, and a listing entry; at
    100 TB the listing alone dominates).

    File count derives from the ACTUAL bytes on disk (metadata listing,
    no data read), then one round-robin repartition writes the data back
    — a single full shuffle, which is the point: compaction IS a
    rewrite, and round-robin gives equal-size output files regardless of
    key skew. With ``partition_cols`` the repartition keys on those
    columns instead so each hive partition directory compacts into its
    own files (skewed partitions still split via AQE). Returns a small
    audit dict {files_before, bytes, files_target, rows}; correctness
    (row-for-row equality) is the caller's/test's assertion.

    On a real deployment this runs table-by-table behind a manifest
    swap or as part of an OPTIMIZE job; here it is the engine primitive
    plus its invariants, test-pinned in tests/test_io_formats.py.
    """
    import glob as _glob

    files = [
        f
        for f in _glob.glob(os.path.join(src_dir, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    ]
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_target = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src_dir)
    if partition_cols:
        out = df.repartition(*[F.col(c) for c in partition_cols])
        writer = out.write.mode("overwrite").partitionBy(*partition_cols)
    else:
        out = df.repartition(n_target)
        writer = out.write.mode("overwrite")
    writer.parquet(dst_dir)
    return {
        "files_before": len(files),
        "bytes": total_bytes,
        "files_target": n_target,
        "rows": spark.read.parquet(dst_dir).count(),
    }
