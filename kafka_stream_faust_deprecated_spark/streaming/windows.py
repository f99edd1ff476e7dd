"""General windowed/stateful streaming operators (SURVEY.md §2b E19-E21).

Each function is mode-agnostic where Spark allows: the same code path
serves batch DataFrames (oracle-checkable — see queries/temporal.py) and
streaming DataFrames (watermarked, state-store backed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_stream_faust_deprecated_spark.functions.rounding import round_det


def _maybe_watermark(df: DataFrame, delay: str) -> DataFrame:
    return df.withWatermark("ts", delay) if df.isStreaming else df


def tumbling_aggregate(df: DataFrame) -> DataFrame:
    """E19/S23 — 1-hour tumbling window aggregate of ``value`` per
    ``event_type`` (the reference's ``.tumbling(size=35)`` variant,
    faust_app/ma_agg.py:257, generalized)."""
    df = _maybe_watermark(df, "1 hour")
    return (
        df.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_det(F.sum("value"), 4).alias("total_value"),
            round_det(F.avg("value"), 4).alias("avg_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "total_value",
            "avg_value",
        )
    )


def sliding_aggregate(df: DataFrame) -> DataFrame:
    """E19/S22 — 2-hour window sliding by 1 hour over ``value``
    (``.hopping(size=5, step=1)``, faust_app/ma_agg.py:144,
    generalized). Each event lands in two windows via Catalyst's window
    expansion."""
    df = _maybe_watermark(df, "2 hours")
    return (
        df.groupBy(F.window("ts", "2 hours", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"), round_det(F.sum("value"), 4).alias("total_value"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            F.date_format("win.end", "yyyy-MM-dd HH:mm:ss").alias("win_end"),
            "n",
            "total_value",
        )
    )


def sessionize(df: DataFrame) -> DataFrame:
    """E19 — session windows: events within 30 minutes of each other
    merge into one session per ``user_id``. Streaming uses the
    session-window state store; batch compiles to a merge-sort pass
    (oracle twin: gaps-and-islands SQL in queries/temporal.py)."""
    df = _maybe_watermark(df, "1 hour")
    return (
        df.groupBy(F.session_window("ts", "30 minutes").alias("sess"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_det(F.sum("value"), 4).alias("total_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("session_last"),
            "n_events",
            "total_value",
        )
    )


def streaming_dedup(
    df: DataFrame,
    keys: tuple[str, ...],
    watermark: str = "10 seconds",
    within_watermark: bool = False,
) -> DataFrame:
    """E21/S5 — keep-first-arrival dedup with watermark-bounded state.

    ``within_watermark=True`` uses ``dropDuplicatesWithinWatermark``:
    dedup only among events whose event times fall within the watermark
    delay of each other — state is GC-able even for keys that never
    recur (the right choice for at-scale infinite streams)."""
    df = _maybe_watermark(df, watermark)
    cols = list(keys)
    if df.isStreaming and within_watermark:
        return df.dropDuplicatesWithinWatermark(cols)
    return df.dropDuplicates(cols)


def stream_static_join(stream: DataFrame, static: DataFrame, on: str) -> DataFrame:
    """E20 — stream-static inner enrichment join: each micro-batch joins
    against the (slowly-changing or fixed) dimension. The static side is
    broadcast — at 100 TB stream scale the dim is re-read per
    micro-batch and shipped once per executor, so the stream never
    shuffles."""
    return stream.join(F.broadcast(static), on)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    how: str = "inner",
) -> DataFrame:
    """E20 — stream-stream equi-join with a time-bound: right events must
    fall within [left.ts - 1 hour, left.ts]. Both sides watermarked (1
    hour) so join state is evictable; the time bound is what makes
    unbounded stream-stream joins finite-state."""
    lw = _maybe_watermark(left, "1 hour").alias("l")
    rw = _maybe_watermark(right, "1 hour").alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col("r.ts") >= F.col("l.ts") - F.expr("INTERVAL 1 hour"))
        & (F.col("r.ts") <= F.col("l.ts"))
    )
    return lw.join(rw, cond, how)
