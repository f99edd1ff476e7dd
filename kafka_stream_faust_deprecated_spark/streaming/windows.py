"""General windowed/stateful streaming operators (SURVEY.md §2b E19-E21).

Each function is mode-agnostic where Spark allows: the same code path
serves batch DataFrames (oracle-checkable — see queries/temporal.py) and
streaming DataFrames (watermarked, state-store backed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_stream_faust_deprecated_spark.functions.rounding import round_det


def _maybe_watermark(df: DataFrame, ts_col: str, delay: str | None) -> DataFrame:
    if df.isStreaming and delay is not None:
        return df.withWatermark(ts_col, delay)
    return df


def tumbling_aggregate(
    df: DataFrame,
    ts_col: str = "ts",
    size: str = "1 hour",
    keys: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    watermark: str | None = "1 hour",
) -> DataFrame:
    """E19/S23 — tumbling window aggregate (the reference's
    ``.tumbling(size=35)`` variant, faust_app/ma_agg.py:257, generalized)."""
    df = _maybe_watermark(df, ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), size).alias("win"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_det(F.sum(value_col), 4).alias("total_value"),
            round_det(F.avg(value_col), 4).alias("avg_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            *keys,
            "n",
            "total_value",
            "avg_value",
        )
    )


def sliding_aggregate(
    df: DataFrame,
    ts_col: str = "ts",
    size: str = "2 hours",
    slide: str = "1 hour",
    keys: tuple[str, ...] = (),
    value_col: str = "value",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """E19/S22 — hopping window aggregate (``.hopping(size=5, step=1)``,
    faust_app/ma_agg.py:144, generalized). Each event lands in
    size/slide windows via Catalyst's window expansion."""
    df = _maybe_watermark(df, ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), size, slide).alias("win"), *keys)
        .agg(F.count(F.lit(1)).alias("n"), round_det(F.sum(value_col), 4).alias("total_value"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            F.date_format("win.end", "yyyy-MM-dd HH:mm:ss").alias("win_end"),
            *keys,
            "n",
            "total_value",
        )
    )


def sessionize(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    key: str = "user_id",
    value_col: str = "value",
    watermark: str | None = "1 hour",
) -> DataFrame:
    """E19 — session windows: events within ``gap`` of each other merge
    into one session per key. Streaming uses the session-window state
    store; batch compiles to a merge-sort pass (oracle twin:
    gaps-and-islands SQL in queries/temporal.py)."""
    df = _maybe_watermark(df, ts_col, watermark)
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), key)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_det(F.sum(value_col), 4).alias("total_value"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
        .select(
            key,
            F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("session_last"),
            "n_events",
            "total_value",
        )
    )


def streaming_dedup(
    df: DataFrame,
    keys: tuple[str, ...],
    ts_col: str = "ts",
    watermark: str = "10 seconds",
    within_watermark: bool = False,
) -> DataFrame:
    """E21/S5 — keep-first-arrival dedup with watermark-bounded state.

    ``within_watermark=True`` uses ``dropDuplicatesWithinWatermark``:
    dedup only among events whose event times fall within the watermark
    delay of each other — state is GC-able even for keys that never
    recur (the right choice for at-scale infinite streams)."""
    df = _maybe_watermark(df, ts_col, watermark)
    cols = list(keys)
    if df.isStreaming and within_watermark:
        return df.dropDuplicatesWithinWatermark(cols)
    return df.dropDuplicates(cols)


def stream_static_join(
    stream: DataFrame,
    static: DataFrame,
    on: str | list[str],
    how: str = "inner",
) -> DataFrame:
    """E20 — stream-static enrichment join: each micro-batch joins
    against the (slowly-changing or fixed) dimension. The static side is
    broadcast — at 100 TB stream scale the dim is re-read per
    micro-batch and shipped once per executor, so the stream never
    shuffles."""
    return stream.join(F.broadcast(static), on, how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "1 hour",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """E20 — stream-stream equi-join with a time-bound: right events must
    fall within [left.ts - max_delay, left.ts]. Both sides watermarked so
    join state is evictable; the time bound is what makes unbounded
    stream-stream joins finite-state."""
    lw = _maybe_watermark(left, left_ts, watermark).alias("l")
    rw = _maybe_watermark(right, right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {max_delay}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}"))
    )
    return lw.join(rw, cond, how)
