"""Streaming PSI drift monitor (S4/E22): the batch ``psi_value_drift``
screen run continuously against a frozen reference profile.

The profile (``queries/monitor.py::psi_reference_profile``: per-type
decile cuts ``c1..c9`` and reference shares ``p1..p10``) is a small
static DataFrame joined into every micro-batch. The monitor is one
declarative streaming aggregation: per-type cumulative bucket counts,
emitted in ``update`` mode with the current PSI. Its state is
O(|types| x 10), independent of stream length, and the last row per
type is a pure function of the event set, whatever the micro-batch
boundaries. Bucketing, shares and terms are the batch query's own
expressions (``psi_bucket``, ``psi_share``, ``psi_term``), so the final
PSI equals ``psi_value_drift``'s bit-for-bit
(tests/test_streaming_drift.py).

Reference parity note: the reference app (faust_app/ma_agg.py, 308
lines) has no drift surface; this extends the streaming engine for the
monitoring mandate (SURVEY.md §2c wave 10).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_stream_faust_deprecated_spark.functions.rounding import round_det
from kafka_stream_faust_deprecated_spark.queries.monitor import (
    PSI_BUCKETS,
    psi_bucket,
    psi_bucket_counts,
    psi_share,
    psi_term,
    psi_total,
)
from kafka_stream_faust_deprecated_spark.streaming.windows import stream_static_join


def psi_drift(events: DataFrame, profile: DataFrame) -> DataFrame:
    """Per-type cumulative PSI of ``value`` against ``profile``.

    ``events`` is a streaming DataFrame with (event_type, value);
    ``profile`` has one row per type: ``et``, ``c1..c9``, ``p1..p10``.
    Run in ``update`` mode: one (event_type, n_cmp, psi) row per type
    per micro-batch that saw the type, with the cumulative count of
    bucketed values. Types without a profile row and NULL values
    contribute nothing. Like any static side of a stream-static join,
    ``profile`` is evaluated again in every micro-batch: pass a
    materialized one (a table read, or ``localCheckpoint()``) where
    computing it is costly.
    """
    shares = [f"p{k}" for k in PSI_BUCKETS]
    ev = events.select(F.col("event_type").alias("et"), F.col("value").alias("v"))
    bucketed = stream_static_join(ev, profile, "et").select(
        "et", *shares, psi_bucket().alias("bucket")
    )
    counts = psi_bucket_counts(bucketed, *shares)
    terms = [
        psi_term(F.col(f"p{k}"), psi_share(F.col(f"n{k}"), psi_total()))
        for k in PSI_BUCKETS
    ]
    return counts.select(
        F.col("et").alias("event_type"),
        psi_total().alias("n_cmp"),
        round_det(reduce(operator.add, terms), 4).alias("psi"),
    )
