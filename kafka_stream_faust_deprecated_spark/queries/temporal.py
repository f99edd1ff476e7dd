"""Batch twins of the streaming window operators (E19), oracle-checked.

The exact same library functions (streaming/windows.py) run here on
batch DataFrames — which is the point: one code path, two execution
modes. DuckDB has no window()/session_window(), so the oracles rebuild
the semantics from first principles (date_trunc, shifted unions,
gaps-and-islands).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kafka_stream_faust_deprecated_spark.functions.rounding import round_det
from kafka_stream_faust_deprecated_spark.io import load_table
from kafka_stream_faust_deprecated_spark.registry import register
from pyspark.sql import functions as F

from kafka_stream_faust_deprecated_spark.streaming.windows import (
    sessionize,
    sliding_aggregate,
    stream_stream_join,
    tumbling_aggregate,
)


@register(
    "tumbling_window_events",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       count(*)             AS n,
       (floor((sum(value)) * 10000.0 + 0.5) / 10000.0) AS total_value,
       (floor((avg(value)) * 10000.0 + 0.5) / 10000.0) AS avg_value
FROM events
GROUP BY 1, 2
""",
    tags=("E19", "S23"),
)
def tumbling_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling windows per event type — aligned tumbling windows
    are equivalent to a date_trunc groupBy (what the oracle does)."""
    return tumbling_aggregate(load_table(spark, sf_dir, "events"))


@register(
    "sliding_window_events",
    oracle="""
WITH expanded AS (
    SELECT date_trunc('hour', ts)                   AS win_start, value FROM events
    UNION ALL
    SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS win_start, value FROM events
)
SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S')                 AS win_start,
       strftime(win_start + INTERVAL 2 HOUR, '%Y-%m-%d %H:%M:%S') AS win_end,
       count(*)             AS n,
       (floor((sum(value)) * 10000.0 + 0.5) / 10000.0) AS total_value
FROM expanded
GROUP BY win_start
""",
    tags=("E19", "S22"),
)
def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2h/1h hopping windows: every event belongs to exactly 2 windows —
    the oracle materializes that expansion with a shifted UNION ALL."""
    return sliding_aggregate(load_table(spark, sf_dir, "events"))


@register(
    "session_window_events",
    oracle="""
WITH ordered AS (
    SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
    SELECT *, sum(new_sess) OVER (
        PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
    ) AS sess_id
    FROM ordered
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_last,
       count(*)             AS n_events,
       (floor((sum(value)) * 10000.0 + 0.5) / 10000.0) AS total_value
FROM sess
GROUP BY user_id, sess_id
""",
    tags=("E19",),
)
def session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessions per user; the oracle derives identical
    sessions via gaps-and-islands (lag + cumulative session counter)."""
    return sessionize(load_table(spark, sf_dir, "events"))


@register(
    "stream_stream_join_events",
    oracle="""
SELECT l.event_id                               AS purchase_id,
       r.event_id                               AS click_id,
       l.user_id                                AS user_id,
       strftime(l.ts, '%Y-%m-%d %H:%M:%S')      AS purchase_ts,
       strftime(r.ts, '%Y-%m-%d %H:%M:%S')      AS click_ts,
       (floor((l.value) * 10000.0 + 0.5) / 10000.0)                        AS purchase_value
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts - INTERVAL 1 HOUR
 AND r.ts <= l.ts
WHERE l.event_type = 'purchase' AND r.event_type = 'click'
""",
    tags=("E20",),
)
def stream_stream_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20 batch twin: purchases joined to the same user's clicks within
    the preceding hour — the canonical attribution stream-stream join.
    The EXACT same ``stream_stream_join`` code path runs watermarked on
    two streams (tests/test_streaming_windows.py proves the state
    bound); here it runs on batch DataFrames for the oracle check."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    clicks = ev.where(F.col("event_type") == "click")
    j = stream_stream_join(purchases, clicks, key="user_id")
    return j.select(
        F.col("l.event_id").alias("purchase_id"),
        F.col("r.event_id").alias("click_id"),
        F.col("l.user_id").alias("user_id"),
        F.date_format(F.col("l.ts"), "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format(F.col("r.ts"), "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        round_det(F.col("l.value"), 4).alias("purchase_value"),
    )


@register(
    "stream_static_enrich",
    oracle="""
SELECT e.event_id                          AS event_id,
       e.user_id                           AS user_id,
       c.c_name                            AS user_name,
       c.c_mktsegment                      AS segment,
       (floor((e.value) * 10000.0 + 0.5) / 10000.0)                   AS value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
""",
    tags=("E20",),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20 batch twin of the stream-static enrichment join: purchase
    events decorated with the customer dimension. The same
    ``stream_static_join`` runs against a file-source stream in
    tests/test_streaming_windows.py; the static side broadcasts, so the
    stream side never shuffles."""
    from kafka_stream_faust_deprecated_spark.streaming.windows import (
        stream_static_join,
    )

    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    return stream_static_join(ev, cust, on="user_id").select(
        "event_id",
        "user_id",
        F.col("c_name").alias("user_name"),
        F.col("c_mktsegment").alias("segment"),
        round_det(F.col("value"), 4).alias("value"),
    )


@register(
    "gapfill_forward_fill",
    oracle="""
WITH base AS (
    SELECT user_id, date_trunc('hour', ts) AS h, avg(value) AS v
    FROM events WHERE user_id < 20 GROUP BY 1, 2
),
span AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM base GROUP BY 1),
grid AS (
    SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
    FROM span
)
SELECT g.user_id                              AS user_id,
       strftime(g.h, '%Y-%m-%d %H:%M:%S')     AS hour_s,
       (b.v IS NULL)::INTEGER                 AS was_gap,
       (floor((last_value(b.v IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 10000.0 + 0.5)
        / 10000.0) AS v_ffill
FROM grid g LEFT JOIN base b ON g.user_id = b.user_id AND g.h = b.h
""",
    tags=("E15", "E19"),
)
def gapfill_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling + forward fill: densify each user's
    hourly series over their observed span, then carry the last
    non-null value across the gaps (``last(..., ignorenulls)`` over an
    unbounded-preceding row frame).

    This is the upstream operator the reference ASSUMES has already
    run: its ticks carry ``real_or_filled`` / ``filled_data_count``
    fields (faust_app/ma_agg.py:13-15) — some producer densified the
    per-second stream before Kafka. Here that densification is a
    first-class engine op. Scale shape: the grid explodes from one
    (min, max) row per key — O(span/step) rows, never a cross join
    against a calendar table — and both the join and the fill window
    share the per-key partitioning, so the whole plan is one exchange
    on user_id after the pre-aggregation."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    base = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.avg("value").alias("v"))
    span = base.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = span.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(base, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_s"),
            F.col("v").isNull().cast("int").alias("was_gap"),
            round_det(F.last("v", ignorenulls=True).over(w), 4).alias("v_ffill"),
        )
    )
