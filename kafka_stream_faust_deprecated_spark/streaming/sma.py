"""The reference's actual pipeline, Spark-first (SURVEY.md §2a S1-S28).

Reference semantics (faust_app/ma_agg.py:49-91): per symbol, per second,
over the last 5 seconds of per-second ticks — only when all 5 seconds are
present — emit filtered sum/count of VWAP, real/filled conditional
counts, guarded-mean SMA, min/max event time, a literal MA_type tag, and
a wall-clock stamp.

Spark mapping: ONE declarative query —

    ticks -> watermark -> dedup(symbol, second) ->
    groupBy(window(ts, '5 seconds', '1 second'), symbol).agg(...) ->
    HAVING count == 5 -> project

The micro-batch planner replaces the 1 s timer (S7); watermark state
eviction replaces the per-tick dict prune (S6/S21); partial->final
aggregation replaces the incremental-combiner variants (S24/S25); and
per-key incremental state replaces the reference's O(all symbols) scan
per tick (SURVEY §4) — per-batch cost is O(keys with new data).

This is the engine's one SMA path: the Kafka job (``build_kafka_sma_job``),
the file job (``build_file_sma_query``), ``bench.py`` and perfbench's
``sma_stream`` all run ``sma_aggregate``. Its output is pinned against a
plain-Python golden (tests/test_streaming_sma.py), and its checkpoint
restart and state eviction by tests/test_streaming_stateful.py.

Deliberate, documented deviations from the reference (SURVEY §7 watchlist):
* event-time watermark *finalization* instead of the reference's hybrid
  processing-time-vs-event-time eviction (ma_agg.py:51-55). The
  watermark bounds when a window closes, emits, and frees state — it is
  not an input filter: a straggler that arrives before its window
  finalizes still counts (a data-completeness upgrade over the
  reference's prune-then-aggregate loop), while one that arrives after
  finalization can at most re-create partial state that the exactly-5
  gate suppresses, so finalized output is never changed or re-emitted.
  Both sides of this contract are pinned by tests
  (tests/test_streaming_sma.py::test_sma_streaming_drops_late_data and
  ::test_sma_streaming_late_before_finalization_counts).
* duplicate (symbol, second) ticks resolve keep-first-arrival
  (``dropDuplicates``) rather than last-write-wins; the reference's LWW
  (ma_agg.py:91) is an artifact of single-threaded arrival order, which
  a distributed engine cannot reproduce deterministically. The batch
  twin (queries/flagship.py) implements deterministic LWW by event_id.
* append-mode emits each closed window exactly once (S27) instead of
  re-emitting every tick while full; ``update`` mode restores per-tick
  freshness if required.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_stream_faust_deprecated_spark.functions.rounding import round_det
from kafka_stream_faust_deprecated_spark.io import file_tick_source, kafka_sink, kafka_tick_source

#: The literal output tag (faust_app/ma_agg.py:66).
MA_TYPE_TAG = "5_MA_data"

#: The reference's window (ma_agg.py:54-57): 5 one-second slots, sliding
#: by one second, emitted only when all 5 are present. The four values are
#: coupled: ``REQUIRED_COUNT`` means "every second present" only while it
#: equals ``WINDOW_SIZE / SLIDE`` (dedup keeps one row per second).
WINDOW_SIZE = "5 seconds"
SLIDE = "1 second"
REQUIRED_COUNT = 5
#: Event-time delay before a window finalizes and its state is evicted.
WATERMARK = "5 seconds"


def sma_aggregate(ticks: DataFrame, current_time_col: Column | None = None) -> DataFrame:
    """S3-S21 as one declarative transformation; works on streaming AND
    batch tick DataFrames (column ``ts`` must be a timestamp).

    ``current_time_col`` makes the wall-clock output column (S16,
    ma_agg.py:69) injectable so tests stay deterministic; None omits it.
    """
    # Second-truncate first so the watermark rides the same column the
    # window groups on (a derived column does not inherit watermark
    # metadata). S5 — at most one record per (symbol, second).
    ticks = ticks.withColumn("sec", F.date_trunc("second", F.col("ts")))
    if ticks.isStreaming:
        ticks = ticks.withWatermark("sec", WATERMARK)  # S21 state eviction
    deduped = ticks.dropDuplicates(["symbol", "sec"])

    size_ok = F.col("size_per_sec") != 0  # S9/S10 filter (ma_agg.py:58-59)
    is_real = F.col("real_or_filled") == "real"  # S11 (ma_agg.py:60-61)

    agg = (
        deduped.groupBy(
            F.window(F.col("sec"), WINDOW_SIZE, SLIDE).alias("win"),  # S6/S22
            F.col("symbol"),  # S3 — the only shuffle key
        )
        .agg(
            F.count(F.lit(1)).alias("window_data_count"),  # S8 gate input
            F.sum(F.when(size_ok, F.col("vwap_price_per_sec"))).alias("sum_of_vwap_raw"),
            F.count(F.when(size_ok, True)).alias("count_of_vwap"),  # S10
            F.count(F.when(is_real, True)).alias("real_data_count"),  # S11
            F.count(F.when(~is_real, True)).alias("filled_data_count"),
            F.min("sec").alias("start_ts"),  # S13 — actual min event time,
            F.max("sec").alias("end_ts"),  # not the aligned boundary
            F.first("type").alias("type"),  # S14 (ma_agg.py:65)
        )
        .where(F.col("window_data_count") == REQUIRED_COUNT)  # S8 (ma_agg.py:57)
    )

    iso = "yyyy-MM-dd'T'HH:mm:ssXXX"  # S19 — the reference's isoformat edge
    out = agg.select(
        "symbol",
        "type",
        F.lit(MA_TYPE_TAG).alias("MA_type"),  # S15
        F.date_format("start_ts", iso).alias("start"),
        F.date_format("end_ts", iso).alias("end"),
        round_det(F.coalesce(  # S12 guarded division (ma_agg.py:70)
                F.col("sum_of_vwap_raw") / F.nullif(F.col("count_of_vwap"), F.lit(0)),
                F.lit(0.0),
            ), 10).alias("sma_value"),
        F.coalesce(F.col("sum_of_vwap_raw"), F.lit(0.0)).alias("sum_of_vwap"),
        "count_of_vwap",
        "window_data_count",
        "real_data_count",
        "filled_data_count",
        F.date_format("win.start", iso).alias("window_start"),
        F.date_format("win.end", iso).alias("window_end"),
    )
    if current_time_col is not None:
        out = out.withColumn("current_time", F.date_format(current_time_col, iso))  # S16
    return out


def build_kafka_sma_job(
    spark: SparkSession,
    bootstrap_servers: str,
    source_topic: str = "kafka_per_sec_data",
    sink_topic: str = "kafka_MA_data_aggregated",
    checkpoint_dir: str = "tmp/spark_checkpoints/ma_agg",
    trigger_interval: str = "1 second",
):
    """EP1 boot path: Kafka -> SMA -> Kafka, 1 s processing-time trigger
    (S7, ma_agg.py:49). Returns the started StreamingQuery."""
    ticks = kafka_tick_source(spark, bootstrap_servers, source_topic)
    out = sma_aggregate(ticks, current_time_col=F.current_timestamp())
    return (
        kafka_sink(out, bootstrap_servers, sink_topic, checkpoint_dir)
        .outputMode("append")
        .trigger(processingTime=trigger_interval)
        .start()
    )


def build_file_sma_query(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    query_name: str = "sma_test",
):
    """Deterministic test path: NDJSON files -> SMA -> memory sink.
    ``availableNow`` drains all files (respecting maxFilesPerTrigger=1,
    oldest mtime first) then stops."""
    ticks = file_tick_source(spark, src_dir, max_files_per_trigger=1)
    return (
        sma_aggregate(ticks)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
