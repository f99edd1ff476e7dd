"""Data-monitoring / forensics operators (round-7 wave 10).

The capabilities this module adds, each as an oracle-checked query:

* ``benford_digit_audit``        — first-significant-digit distribution
  of order totals against Benford's law with per-digit chi-square
  contributions: the classic forensic-accounting screen for fabricated
  or truncated numeric columns.
* ``psi_value_drift``            — Population Stability Index of the
  event value distribution between the first half of the month and the
  rest, bucketed by reference-window deciles: the standard
  feature-drift monitor in ML scoring pipelines. Its pieces (cuts,
  bucket, share, term) also build ``psi_reference_profile``, the
  frozen profile DataFrame, and the streaming monitor
  ``streaming/drift.py::psi_drift``.
* ``twap_daily``                 — per-symbol daily time-weighted
  average price (each tick weighted by its holding time to the next
  tick, last tick to day end) next to the tick count: the execution
  benchmark VWAP does not cover when volume is missing or gamed.
* ``seasonal_residual_anomalies``— per-type anomaly screen on the
  hour-of-day-deseasonalized residuals: rows whose |z| exceeds 3
  after removing the seasonal hour mean — the "3am broke vs 3am is
  always quiet" separation the seasonal decomposition enables.

Reference parity note: the reference app (``faust_app/ma_agg.py``, 308
lines) has no monitoring / forensics surface; these extend the engine
for the large-scale analytics mandate (SURVEY.md §2b/§2c).
"""

from __future__ import annotations

import math
import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_stream_faust_deprecated_spark.functions.rounding import (
    round_det,
    sql_round_det,
)
from kafka_stream_faust_deprecated_spark.io import load_table_parallel
from kafka_stream_faust_deprecated_spark.registry import register

# --------------------------------------------------------------------------
# benford_digit_audit
# --------------------------------------------------------------------------

#: Benford first-digit probabilities log10(1 + 1/d), embedded as
#: IDENTICAL Python-repr literals in the Spark plan and the oracle SQL
#: (repr round-trips doubles exactly), so neither engine evaluates a
#: log at query time.
BENFORD_P = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


@register(
    "benford_digit_audit",
    oracle=f"""
WITH c AS (
    SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                   AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
    FROM orders
),
g AS (
    SELECT digit, count(*)::BIGINT AS observed FROM c GROUP BY digit
),
t AS (
    SELECT digit, observed,
           sum(observed) OVER () AS n
    FROM g
)
SELECT digit, observed,
       {sql_round_det("CAST(observed AS DOUBLE) / CAST(n AS DOUBLE)", 6)}
           AS observed_share,
       {sql_round_det(
           "CASE digit "
           + " ".join(
               f"WHEN {d} THEN {BENFORD_P[d]!r}" for d in range(1, 10))
           + " END", 6)} AS benford_share,
       {sql_round_det(
           "(CAST(observed AS DOUBLE) - CAST(n AS DOUBLE) * (CASE digit "
           + " ".join(
               f"WHEN {d} THEN {BENFORD_P[d]!r}" for d in range(1, 10))
           + " END)) * (CAST(observed AS DOUBLE) - CAST(n AS DOUBLE) * "
           "(CASE digit "
           + " ".join(
               f"WHEN {d} THEN {BENFORD_P[d]!r}" for d in range(1, 10))
           + " END)) / (CAST(n AS DOUBLE) * (CASE digit "
           + " ".join(
               f"WHEN {d} THEN {BENFORD_P[d]!r}" for d in range(1, 10))
           + " END))", 4)} AS chi2_term
FROM t
""",
    tags=("E7", "E14", "E16"),
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit audit of o_totalprice against Benford's
    law: per digit, the observed count and share, Benford's expected
    share, and the chi-square contribution (obs - n*p)^2 / (n*p). The
    digit is extracted from the EXACT integer cents (DECIMAL(18,2) *
    100 -> BIGINT -> leading character) — shifting by 100 preserves the
    leading significant digit and avoids both float log10 boundary
    misrounding and engine-specific double formatting. The Benford
    probabilities are Python-computed literals embedded identically in
    both engines.

    Scale shape: one scan collapsing to <= 9 digit groups with
    map-side combine; the total window runs over the 9-row relation
    (bounded, whitelisted — the price_histogram class).
    """
    cents = (
        F.col("o_totalprice").cast("decimal(18,2)") * 100
    ).cast("bigint")
    g = (
        load_table_parallel(spark, sf_dir, "orders")
        .select(
            F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    t = g.withColumn(
        "n", F.sum("observed").over(Window.partitionBy())
    )
    p = F.element_at(
        F.array(*[F.lit(BENFORD_P[d]) for d in range(1, 10)]), F.col("digit")
    )
    obs_d = F.col("observed").cast("double")
    n_d = F.col("n").cast("double")
    return t.select(
        "digit",
        "observed",
        round_det(obs_d / n_d, 6).alias("observed_share"),
        round_det(p, 6).alias("benford_share"),
        round_det(
            (obs_d - n_d * p) * (obs_d - n_d * p) / (n_d * p), 4
        ).alias("chi2_term"),
    )


# --------------------------------------------------------------------------
# psi_value_drift
# --------------------------------------------------------------------------

#: Reference/comparison split for the drift windows (the fixture spans
#: 2024-01-01..01-30; a fixed literal, the TREND_EPOCH pattern).
PSI_SPLIT = "2024-01-16"
#: Share floor before the log ratio — the standard PSI epsilon that
#: keeps empty comparison buckets finite.
PSI_EPS = 1e-06

_PSI_DECILES = tuple(k / 10.0 for k in range(1, 10))
#: The cut columns and the bucket numbers the PSI pieces below share.
PSI_CUTS = tuple(f"c{i + 1}" for i in range(len(_PSI_DECILES)))
PSI_BUCKETS = range(1, len(_PSI_DECILES) + 2)


def _psi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table_parallel(spark, sf_dir, "events").select(
        F.col("event_type").alias("et"), F.col("value").alias("v"), "ts"
    )


def psi_cuts(ref: DataFrame) -> DataFrame:
    """(et, c1..c9): the reference window's decile cuts, rounded to 4 dp."""
    return ref.groupBy("et").agg(
        *[
            round_det(F.percentile("v", F.lit(q)), 4).alias(c)
            for q, c in zip(_PSI_DECILES, PSI_CUTS)
        ]
    )


def psi_bucket() -> Column:
    """Bucket 1..10 of value ``v`` against the cuts ``c1..c9`` (NULL for
    a NULL value)."""
    bucket = F.lit(1)
    for c in PSI_CUTS:
        bucket = bucket + (F.col("v") > F.col(c)).cast("int")
    return bucket


def psi_bucket_counts(bucketed: DataFrame, *carry: str) -> DataFrame:
    """One row per ``et``: ``n1..n10``, the rows in each bucket, plus the
    ``carry`` columns, constant per ``et``, kept with ``max``."""
    return bucketed.groupBy("et").agg(
        *[F.count(F.when(F.col("bucket") == k, 1)).alias(f"n{k}") for k in PSI_BUCKETS],
        *[F.max(c).alias(c) for c in carry],
    )


def psi_total() -> Column:
    """The bucketed rows of a ``psi_bucket_counts`` row."""
    return reduce(operator.add, [F.col(f"n{k}") for k in PSI_BUCKETS])


def psi_share(count: Column, total: Column) -> Column:
    """A bucket's share of its window, rounded to 6 dp (NULL for an
    empty window)."""
    return round_det(
        count.cast("double") / F.nullif(total.cast("double"), F.lit(0.0)), 6
    )


def psi_term(p: Column, q: Column) -> Column:
    """One bucket's (p - q) * ln(p/q) with both shares floored at
    ``PSI_EPS``, fixed to 6 dp as DECIMAL(18,6) so the sum over buckets
    is exact."""
    p = F.greatest(p, F.lit(PSI_EPS))
    q = F.greatest(q, F.lit(PSI_EPS))
    return round_det((p - q) * F.log(p / q), 6).cast("decimal(18,6)")


@register(
    "psi_value_drift",
    oracle=f"""
WITH ev AS (
    SELECT event_type AS et, value AS v, ts FROM events
),
cuts AS (
    SELECT et,
           {", ".join(
               sql_round_det(f"quantile_cont(v, {q!r})", 4) + f" AS c{i+1}"
               for i, q in enumerate(_PSI_DECILES))}
    FROM ev WHERE ts < TIMESTAMP '{PSI_SPLIT} 00:00:00' GROUP BY et
),
b AS (
    SELECT ev.et,
           1 {" ".join(f"+ (ev.v > cuts.c{i+1})::INT"
                       for i in range(len(_PSI_DECILES)))} AS bucket,
           CASE WHEN ev.ts < TIMESTAMP '{PSI_SPLIT} 00:00:00'
                THEN 1 ELSE 0 END AS is_ref
    FROM ev JOIN cuts USING (et)
),
counts AS (
    SELECT et, bucket,
           CAST(sum(is_ref) AS BIGINT) AS rn,
           CAST(sum(1 - is_ref) AS BIGINT) AS cn
    FROM b GROUP BY et, bucket
),
grid AS (
    SELECT et, unnest(range(1, 11))::INTEGER AS bucket FROM cuts
),
filled AS (
    SELECT g.et, g.bucket,
           coalesce(c.rn, 0) AS rn, coalesce(c.cn, 0) AS cn
    FROM grid g LEFT JOIN counts c ON g.et = c.et AND g.bucket = c.bucket
),
tot AS (
    SELECT et, bucket, rn, cn,
           sum(rn) OVER (PARTITION BY et) AS n_ref,
           sum(cn) OVER (PARTITION BY et) AS n_cmp
    FROM filled
),
terms AS (
    SELECT et, n_ref, n_cmp,
           CAST({sql_round_det(
               "(greatest(" + sql_round_det(
                   "CAST(rn AS DOUBLE) / nullif(CAST(n_ref AS DOUBLE), 0.0)",
                   6) + f", {PSI_EPS!r})"
               " - greatest(" + sql_round_det(
                   "CAST(cn AS DOUBLE) / nullif(CAST(n_cmp AS DOUBLE), 0.0)",
                   6) + f", {PSI_EPS!r}))"
               " * ln(greatest(" + sql_round_det(
                   "CAST(rn AS DOUBLE) / nullif(CAST(n_ref AS DOUBLE), 0.0)",
                   6) + f", {PSI_EPS!r})"
               " / greatest(" + sql_round_det(
                   "CAST(cn AS DOUBLE) / nullif(CAST(n_cmp AS DOUBLE), 0.0)",
                   6) + f", {PSI_EPS!r}))", 6)} AS DECIMAL(18,6)) AS term
    FROM tot
)
SELECT et AS event_type,
       CAST(max(n_ref) AS BIGINT) AS n_ref,
       CAST(max(n_cmp) AS BIGINT) AS n_cmp,
       {sql_round_det("CAST(sum(term) AS DOUBLE)", 4)} AS psi
FROM terms GROUP BY et
""",
    tags=("E7", "E10", "E15", "E16"),
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the value distribution per event
    type: the reference window (before {PSI_SPLIT}) defines decile
    cutoffs (exact interpolated percentiles, rounded to 4 dp), both
    windows are bucketed by those ROUNDED cutoffs (exact 2-decimal
    values vs 4-dp cutoffs — no knife edges), and PSI sums
    (p - q) * ln(p/q) over the 10 buckets with the standard
    {PSI_EPS} share floor. Shares are rounded to 6 dp before the log
    and each term is 6-dp DECIMAL-fixed before the cross-bucket sum
    (the mi_contrib idiom), so the result is order-independent.

    Scale shape: one type-keyed percentile aggregate over the
    reference window (broadcast back, |types| rows), one corpus pass
    bucketing against the broadcast cutoffs into a (type, bucket)
    aggregate — bounded at |types| x 10 — and windows/terms over that
    bounded relation. The drift monitor costs two scans at any SF.
    """
    ev = _psi_events(spark, sf_dir)
    split = F.lit(f"{PSI_SPLIT} 00:00:00").cast("timestamp")
    cuts = psi_cuts(ev.where(F.col("ts") < split))
    b = ev.join(F.broadcast(cuts), "et").select(
        "et",
        psi_bucket().alias("bucket"),
        F.when(F.col("ts") < split, 1).otherwise(0).alias("is_ref"),
    )
    counts = b.groupBy("et", "bucket").agg(
        F.sum("is_ref").cast("bigint").alias("rn"),
        F.sum(1 - F.col("is_ref")).cast("bigint").alias("cn"),
    )
    grid = cuts.select(
        "et", F.explode(F.sequence(F.lit(1), F.lit(10))).alias("bucket")
    )
    full = (
        grid.join(counts, ["et", "bucket"], "left")
        .na.fill({"rn": 0, "cn": 0})
    )
    byt = Window.partitionBy("et")
    tot = full.select(
        "et",
        "rn",
        "cn",
        F.sum("rn").over(byt).alias("n_ref"),
        F.sum("cn").over(byt).alias("n_cmp"),
    )
    terms = tot.select(
        "et",
        "n_ref",
        "n_cmp",
        psi_term(
            psi_share(F.col("rn"), F.col("n_ref")),
            psi_share(F.col("cn"), F.col("n_cmp")),
        ).alias("term"),
    )
    return terms.groupBy(F.col("et").alias("event_type")).agg(
        F.max("n_ref").cast("bigint").alias("n_ref"),
        F.max("n_cmp").cast("bigint").alias("n_cmp"),
        round_det(F.sum("term").cast("double"), 4).alias("psi"),
    )


def psi_reference_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen reference profile the streaming drift monitor
    (``streaming/drift.py::psi_drift``) compares against: one row per
    type ``et`` with its decile cuts ``c1..c9`` and reference bucket
    shares ``p1..p10``, built from the same pieces as
    ``psi_value_drift``, so the monitor's PSI over the comparison
    window equals the batch query's bit-for-bit
    (tests/test_streaming_drift.py). NULL values carry no bucket, as
    in the batch query. |types| rows: small enough to broadcast into
    every micro-batch."""
    ev = _psi_events(spark, sf_dir)
    split = F.lit(f"{PSI_SPLIT} 00:00:00").cast("timestamp")
    ref = ev.where(F.col("ts") < split).where(F.col("v").isNotNull())
    cuts = psi_cuts(ref)
    bucketed = ref.join(F.broadcast(cuts), "et").select(
        "et", *PSI_CUTS, psi_bucket().alias("bucket")
    )
    counts = psi_bucket_counts(bucketed, *PSI_CUTS)
    return counts.select(
        "et",
        *PSI_CUTS,
        *[
            psi_share(F.col(f"n{k}"), psi_total()).alias(f"p{k}")
            for k in PSI_BUCKETS
        ],
    )


# --------------------------------------------------------------------------
# twap_daily
# --------------------------------------------------------------------------


@register(
    "twap_daily",
    oracle=f"""
WITH t AS (
    SELECT user_id,
           CAST(ts AS DATE) AS day,
           CAST(value AS DECIMAL(12,2)) AS px,
           epoch(date_trunc('second', ts))::BIGINT AS sec,
           ts, event_id
    FROM events
),
w AS (
    SELECT user_id, day, px,
           coalesce(
               lead(sec) OVER (
                   PARTITION BY user_id, day ORDER BY ts, event_id),
               epoch(CAST(day AS TIMESTAMP) + INTERVAL 1 DAY)::BIGINT
           ) - sec AS hold_sec
    FROM t
)
SELECT user_id,
       strftime(day, '%Y-%m-%d') AS day,
       count(*)::BIGINT AS n_ticks,
       CAST(sum(hold_sec) AS BIGINT) AS covered_sec,
       {sql_round_det(
           "CAST(sum(px * CAST(hold_sec AS DECIMAL(10,0))) AS DOUBLE)"
           " / nullif(CAST(sum(hold_sec) AS DOUBLE), 0.0)", 4)} AS twap
FROM w GROUP BY user_id, day
""",
    tags=("E7", "E10", "E15"),
)
def twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol daily time-weighted average price: each tick's price
    weighted by its holding time — the exact integer seconds to the
    next tick of the day ((ts, event_id)-ordered, second-truncated
    epoch: the nearest_event_join idiom), the last tick holding to the
    day boundary. The notional is an exact DECIMAL x integer sum, so
    the only float step is the final division, rounded under the
    shared contract. TWAP complements vwap_daily where the volume
    field is missing or manipulable.

    Scale shape: one (user_id, day)-keyed exchange — the lead window
    and the weighted aggregate share the sort, exactly the
    ohlc_bars_daily plan.
    """
    t = load_table_parallel(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.col("value").cast("decimal(12,2)").alias("px"),
        F.unix_timestamp("ts").alias("sec"),
        "ts",
        "event_id",
    )
    nxt = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    day_end = F.unix_timestamp(
        F.date_add(F.col("day"), 1).cast("timestamp")
    )
    w = t.select(
        "user_id",
        "day",
        "px",
        (
            F.coalesce(F.lead("sec").over(nxt), day_end) - F.col("sec")
        ).alias("hold_sec"),
    )
    g = w.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum("hold_sec").cast("bigint").alias("covered_sec"),
        F.sum(
            F.col("px") * F.col("hold_sec").cast("decimal(10,0)")
        ).alias("notional"),
    )
    return g.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_ticks",
        "covered_sec",
        round_det(
            F.col("notional").cast("double")
            / F.nullif(F.col("covered_sec").cast("double"), F.lit(0.0)),
            4,
        ).alias("twap"),
    )


# --------------------------------------------------------------------------
# seasonal_residual_anomalies
# --------------------------------------------------------------------------

#: Residual z-score anomaly cut (on the ROUNDED z, the MAD-cut rule).
SEASONAL_Z_CUT = 3.0


@register(
    "seasonal_residual_anomalies",
    oracle=f"""
WITH e AS (
    SELECT event_type, CAST(hour(ts) AS INTEGER) AS hod,
           CAST(value AS DECIMAL(12,2)) AS v
    FROM events
),
hm AS (
    SELECT event_type, hod,
           CAST({sql_round_det("CAST(sum(v) AS DOUBLE) / count(*)", 4)}
                AS DECIMAL(18,4)) AS hour_mean
    FROM e GROUP BY event_type, hod
),
r AS (
    SELECT e.event_type, e.v - hm.hour_mean AS resid
    FROM e JOIN hm ON e.event_type = hm.event_type AND e.hod = hm.hod
),
st AS (
    SELECT event_type, count(*)::BIGINT AS n,
           sum(resid) AS s, sum(
               CAST(resid AS DECIMAL(19,4)) * CAST(resid AS DECIMAL(19,4))
           ) AS ss
    FROM r GROUP BY event_type
),
z AS (
    SELECT r.event_type, st.n,
           {sql_round_det(
               "CAST(r.resid AS DOUBLE) / nullif(sqrt(greatest("
               "CAST(st.ss AS DOUBLE) / st.n"
               " - (CAST(st.s AS DOUBLE) / st.n)"
               " * (CAST(st.s AS DOUBLE) / st.n), 0.0)), 0.0)", 4)} AS zz,
           sqrt(greatest(CAST(st.ss AS DOUBLE) / st.n
                - (CAST(st.s AS DOUBLE) / st.n)
                * (CAST(st.s AS DOUBLE) / st.n), 0.0)) AS sd
    FROM r JOIN st USING (event_type)
)
SELECT event_type, n,
       {sql_round_det("max(sd)", 4)} AS resid_sd,
       CAST(sum(CASE WHEN abs(zz) > {SEASONAL_Z_CUT!r} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_anomalies,
       {sql_round_det(
           "CAST(sum(CASE WHEN abs(zz) > " + repr(SEASONAL_Z_CUT)
           + " THEN 1 ELSE 0 END) AS DOUBLE) / n", 6)} AS anomaly_share,
       max(abs(zz)) AS max_abs_z
FROM z GROUP BY event_type, n
""",
    tags=("E7", "E15", "E16"),
)
def seasonal_residual_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deseasonalized anomaly screen per event type: subtract each
    (type, hour-of-day) mean (rounded to 4 dp and FIXED as
    DECIMAL(18,4), so every residual is an exact DECIMAL), compute the
    population sigma of the residuals from exact moment sums, and
    count rows whose |z| exceeds {SEASONAL_Z_CUT} on the ROUNDED z —
    the screen that distinguishes "3am is always quiet" from "3am
    broke". Residual moments are exact DECIMAL sums, so sigma and
    every z are pure double functions of exact inputs.

    Scale shape: one (type, hour) aggregate (|types| x 24, broadcast
    back), one type-keyed moment aggregate (|types| rows, broadcast
    back), then one counting pass — three corpus scans, nothing
    re-keyed on anything unbounded; the two stats joins are broadcast.
    """
    e = load_table_parallel(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").alias("hod"),
        F.col("value").cast("decimal(12,2)").alias("v"),
    )
    hm = e.groupBy("event_type", "hod").agg(
        round_det(F.sum("v").cast("double") / F.count(F.lit(1)), 4)
        .cast("decimal(18,4)")
        .alias("hour_mean")
    )
    r = e.join(F.broadcast(hm), ["event_type", "hod"]).select(
        "event_type", (F.col("v") - F.col("hour_mean")).alias("resid")
    )
    rd = F.col("resid").cast("decimal(19,4)")
    st = r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("resid").alias("s"),
        F.sum(rd * rd).alias("ss"),
    )
    j = r.join(F.broadcast(st), "event_type")
    mean = F.col("s").cast("double") / F.col("n")
    sd = F.sqrt(
        F.greatest(
            F.col("ss").cast("double") / F.col("n") - mean * mean,
            F.lit(0.0),
        )
    )
    zz = round_det(
        F.col("resid").cast("double") / F.nullif(sd, F.lit(0.0)), 4
    )
    return (
        j.select("event_type", F.col("n"), sd.alias("sd"), zz.alias("zz"))
        .groupBy("event_type", "n")
        .agg(
            round_det(F.max("sd"), 4).alias("resid_sd"),
            F.sum(F.when(F.abs(F.col("zz")) > SEASONAL_Z_CUT, 1).otherwise(0))
            .cast("bigint")
            .alias("n_anomalies"),
            round_det(
                F.sum(
                    F.when(F.abs(F.col("zz")) > SEASONAL_Z_CUT, 1).otherwise(0)
                ).cast("double")
                / F.col("n"),
                6,
            ).alias("anomaly_share"),
            F.max(F.abs(F.col("zz"))).alias("max_abs_z"),
        )
    )
