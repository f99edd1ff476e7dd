"""Time-series regularization, group-wise regression, dependence
measures, and co-occurrence rule mining (round-7 wave 4).

The capabilities this module adds, each as an oracle-checked query:

* ``timeseries_gap_fill``         — per-user daily resample of the
  event stream onto a regular grid with forward-fill (last observation
  carried forward): the regularization step every downstream
  time-series model (and every SQL comparison across users) needs
  before it can difference, lag, or correlate series.
* ``groupwise_linear_trend``      — per-event-type ordinary
  least-squares trend (slope/intercept/R^2) of value over time,
  computed from EXACT decimal sufficient statistics so the two engines
  cannot drift on float summation order.
* ``categorical_mutual_information`` — the lang x source dependence
  structure of the corpus: joint/marginal distributions, pointwise
  mutual information per cell, and the total mutual information — the
  standard screen for "is a metadata column leaking another" before a
  training mixture treats them as independent axes.
* ``basket_copurchase_rules``     — market-basket association rules
  over order baskets (brand pairs): support / confidence / lift with a
  minimum-support cut, the classic co-occurrence mining shape whose
  pair fan-out is bounded by basket size, not corpus size.

Reference parity note: the reference app (``faust_app/ma_agg.py``, 308
lines) has no resampling / regression / mining surface; these extend
the engine for the large-scale analytics mandate (SURVEY.md §2b/§2c).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_stream_faust_deprecated_spark.functions.rounding import (
    round_det,
    round_det_py,
    sql_round_det,
)
from kafka_stream_faust_deprecated_spark.io import load_table_parallel
from kafka_stream_faust_deprecated_spark.registry import register

# --------------------------------------------------------------------------
# timeseries_gap_fill
# --------------------------------------------------------------------------


@register(
    "timeseries_gap_fill",
    oracle=f"""
WITH daily AS (
    SELECT user_id, date_trunc('day', ts) AS d,
           count(*) AS n_events,
           {sql_round_det(
               "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)", 4)}
               AS day_avg
    FROM events GROUP BY 1, 2
),
span AS (
    SELECT date_trunc('day', min(ts)) AS lo, date_trunc('day', max(ts)) AS hi
    FROM events
),
grid AS (
    SELECT u.user_id, g.d
    FROM (SELECT DISTINCT user_id FROM events) u
    CROSS JOIN (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM span
    ) g
),
j AS (
    SELECT g.user_id, g.d,
           coalesce(daily.n_events, 0) AS n_events,
           daily.day_avg
    FROM grid g LEFT JOIN daily ON daily.user_id = g.user_id AND daily.d = g.d
)
SELECT user_id,
       strftime(d, '%Y-%m-%d') AS day,
       n_events::BIGINT AS n_events,
       last_value(day_avg IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS avg_value_filled,
       (CASE WHEN day_avg IS NULL THEN 1 ELSE 0 END)::BIGINT AS gap_filled
FROM j
""",
    tags=("E15", "E19"),
)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample every user's event stream onto the corpus's shared
    daily grid and forward-fill the gaps: per (user, day) the event
    count and day-average value, with empty days materialized at
    ``n_events = 0`` and their value carried forward from the user's
    last observed day (LOCF; NULL before the first observation — no
    value is invented). The day average divides an EXACT DECIMAL(18,2)
    sum (the 2-decimal-column contract) and is rounded (4 dp) BEFORE
    the fill, so both engines propagate the identical value.

    Scale shape: the corpus collapses to the per-(user, day) aggregate
    FIRST (one keyed exchange with map-side combine — the raw events
    never feed the grid join), the grid is users x days rows built from
    a broadcast 1-row global span (the cross join is BNLJ against one
    row), and the forward-fill window rides a user-keyed exchange of
    the grid — all downstream relations are grid-sized, which grows
    with users x calendar, not with event volume.
    """
    ev = load_table_parallel(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d"), "value"
    )
    daily = ev.groupBy("user_id", "d").agg(
        F.count("*").alias("n_events"),
        round_det(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count("*"),
            4,
        ).alias("day_avg"),
    )
    span = ev.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    users = ev.select("user_id").distinct()
    grid = (
        users.crossJoin(F.broadcast(span))
        .select(
            "user_id",
            F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d"),
        )
    )
    j = grid.join(daily, ["user_id", "d"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
        F.last("day_avg", ignorenulls=True).over(w).alias("avg_value_filled"),
        F.when(F.col("day_avg").isNull(), 1).otherwise(0).cast("bigint").alias(
            "gap_filled"
        ),
    )


# --------------------------------------------------------------------------
# groupwise_linear_trend
# --------------------------------------------------------------------------

#: Day-index epoch for the OLS x axis. A fixed literal (not a
#: data-derived min) keeps x an exact small integer in both engines.
TREND_EPOCH = "2024-01-01"


@register(
    "groupwise_linear_trend",
    oracle=f"""
WITH pts AS (
    SELECT event_type,
           date_diff('day', DATE '{TREND_EPOCH}', CAST(ts AS DATE)) AS x,
           CAST(value AS DECIMAL(18,2)) AS y
    FROM events
),
s AS (
    SELECT event_type,
           count(*)::BIGINT AS n,
           sum(x)::BIGINT AS sx,
           sum(x * x)::BIGINT AS sxx,
           sum(y) AS sy,
           sum(x * y) AS sxy,
           sum(y * y) AS syy
    FROM pts GROUP BY event_type
)
SELECT event_type,
       n,
       {sql_round_det(
           "(n * CAST(sxy AS DOUBLE) - sx * CAST(sy AS DOUBLE))"
           " / nullif(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx, 0)", 4)}
           AS slope,
       {sql_round_det(
           "(CAST(sy AS DOUBLE) - ((n * CAST(sxy AS DOUBLE) - sx * CAST(sy AS DOUBLE))"
           " / nullif(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx, 0)) * sx) / n", 4)}
           AS intercept,
       {sql_round_det(
           "((n * CAST(sxy AS DOUBLE) - sx * CAST(sy AS DOUBLE))"
           " * (n * CAST(sxy AS DOUBLE) - sx * CAST(sy AS DOUBLE)))"
           " / nullif((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)"
           " * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0)", 4)}
           AS r2,
       {sql_round_det("CAST(sx AS DOUBLE) / n", 4)} AS mean_x,
       {sql_round_det("CAST(sy AS DOUBLE) / n", 4)} AS mean_y
FROM s
""",
    tags=("E7", "E16"),
)
def groupwise_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value over time (x = days since
    {TREND_EPOCH}): slope, intercept, R^2, and the group means, all
    derived from EXACT sufficient statistics — integer sums for
    x / x^2 and DECIMAL(18,2) sums for the 2-decimal value column — so
    the closed-form estimates are a fixed double expression over
    identical inputs in both engines (no float-summation-order drift
    anywhere; the [[verify-contract]] DECIMAL-sum idiom applied to
    regression).

    Scale shape: one event-type-keyed exchange of six map-side-combined
    partial sums (the classic distributed-OLS shape — sufficient
    statistics commute, so the corpus is read once and only k rows of
    moments move); everything after the agg is per-group scalar math.
    """
    ev = load_table_parallel(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit(TREND_EPOCH).cast("date")).alias("x"),
        F.col("value").cast("decimal(18,2)").alias("y"),
    )
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    num = n * sxy - F.col("sx") * sy  # sx kept integer where exact
    # nullif-guarded denominators: a 1-point (or zero-variance) group
    # has no trend — slope/intercept/r2 are NULL, never a crash, in
    # BOTH engines (ANSI division would otherwise throw here).
    den_x = F.nullif(n * sxx - sx * F.col("sx"), F.lit(0.0))
    den_y = n * syy - sy * sy
    slope = num / den_x
    return s.select(
        "event_type",
        "n",
        round_det(slope, 4).alias("slope"),
        round_det((sy - slope * F.col("sx")) / n, 4).alias("intercept"),
        round_det((num * num) / F.nullif(den_x * den_y, F.lit(0.0)), 4).alias("r2"),
        round_det(sx / n, 4).alias("mean_x"),
        round_det(sy / n, 4).alias("mean_y"),
    )


# --------------------------------------------------------------------------
# categorical_mutual_information
# --------------------------------------------------------------------------


@register(
    "categorical_mutual_information",
    oracle=f"""
WITH joint AS (
    SELECT lang, source, count(*)::BIGINT AS c_xy FROM documents GROUP BY 1, 2
),
m AS (
    SELECT lang, source, c_xy,
           sum(c_xy) OVER (PARTITION BY lang) AS c_lang,
           sum(c_xy) OVER (PARTITION BY source) AS c_src,
           sum(c_xy) OVER () AS n_total
    FROM joint
),
cell AS (
    SELECT lang, source, c_xy,
           c_lang::BIGINT AS c_lang, c_src::BIGINT AS c_src,
           n_total::BIGINT AS n_total,
           {sql_round_det("CAST(c_xy AS DOUBLE) / n_total", 4)} AS p_joint,
           {sql_round_det(
               "log2((CAST(c_xy AS DOUBLE) * n_total) / (CAST(c_lang AS DOUBLE) * c_src))", 4)}
               AS pmi,
           CAST({sql_round_det(
               "(CAST(c_xy AS DOUBLE) / n_total)"
               " * log2((CAST(c_xy AS DOUBLE) * n_total) / (CAST(c_lang AS DOUBLE) * c_src))", 4)}
               AS DECIMAL(18,4)) AS mi_contrib
    FROM m
)
SELECT lang, source, c_xy, c_lang, c_src, n_total, p_joint, pmi,
       CAST(mi_contrib AS DOUBLE) AS mi_contrib,
       CAST(sum(mi_contrib) OVER () AS DOUBLE) AS mi_total
FROM cell
""",
    tags=("E7", "E25"),
)
def categorical_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lang x source dependence structure of the corpus: per
    (lang, source) cell the joint/marginal counts, the joint
    probability, the pointwise mutual information
    ``log2(p_xy / (p_x * p_y))``, the cell's MI contribution, and the
    corpus-level mutual information (the sum of contributions) — the
    leakage screen run before treating two metadata axes as
    independent mixture dimensions. Every probability is a ratio of
    exact integer counts; the only floats are per-cell fixed
    expressions, and the MI total sums 4-dp DECIMAL contributions so
    its value cannot depend on summation order in either engine.

    Scale shape: ONE corpus exchange (the (lang, source) count with
    map-side combine); every window after it runs over the
    catalog-bounded joint relation (|lang| x |source| rows — the
    corpus_datacard share-normalization class), including the
    single-partition global-sum windows, which are whitelisted as
    bounded.
    """
    docs = load_table_parallel(spark, sf_dir, "documents").select("lang", "source")
    joint = docs.groupBy("lang", "source").agg(F.count("*").alias("c_xy"))
    m = joint.select(
        "lang",
        "source",
        "c_xy",
        F.sum("c_xy").over(Window.partitionBy("lang")).alias("c_lang"),
        F.sum("c_xy").over(Window.partitionBy("source")).alias("c_src"),
        F.sum("c_xy").over(
            Window.partitionBy()
        ).alias("n_total"),
    )
    p_joint = F.col("c_xy").cast("double") / F.col("n_total")
    pmi = F.log2(
        (F.col("c_xy").cast("double") * F.col("n_total"))
        / (F.col("c_lang").cast("double") * F.col("c_src"))
    )
    cell = m.select(
        "lang",
        "source",
        "c_xy",
        F.col("c_lang").cast("bigint").alias("c_lang"),
        F.col("c_src").cast("bigint").alias("c_src"),
        F.col("n_total").cast("bigint").alias("n_total"),
        round_det(p_joint, 4).alias("p_joint"),
        round_det(pmi, 4).alias("pmi"),
        round_det(p_joint * pmi, 4).cast("decimal(18,4)").alias("mi_contrib"),
    )
    return cell.select(
        "lang",
        "source",
        "c_xy",
        "c_lang",
        "c_src",
        "n_total",
        "p_joint",
        "pmi",
        F.col("mi_contrib").cast("double").alias("mi_contrib"),
        F.sum("mi_contrib")
        .over(Window.partitionBy())
        .cast("double")
        .alias("mi_total"),
    )


# --------------------------------------------------------------------------
# basket_copurchase_rules
# --------------------------------------------------------------------------

#: Minimum support as an exact integer predicate: keep a brand pair
#: when ``n_ab * BASKET_SUPPORT_DEN >= n_orders`` (support >= 1%).
#: Thresholding on exact integers — never on a float ratio — means the
#: cut cannot flicker between engines.
BASKET_SUPPORT_DEN = 100


@register(
    "basket_copurchase_rules",
    oracle=f"""
WITH ob AS (
    SELECT DISTINCT l_orderkey, p_brand
    FROM lineitem JOIN part ON p_partkey = l_partkey
),
n AS (
    SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders FROM ob
),
bc AS (
    SELECT p_brand, count(*)::BIGINT AS c FROM ob GROUP BY 1
),
pc AS (
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*)::BIGINT AS n_ab
    FROM ob a JOIN ob b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY 1, 2
)
SELECT brand_a, brand_b, n_ab,
       ca.c AS n_a, cb.c AS n_b, n.n_orders AS n_orders,
       {sql_round_det("CAST(n_ab AS DOUBLE) / n.n_orders", 4)} AS support,
       {sql_round_det("CAST(n_ab AS DOUBLE) / ca.c", 4)} AS conf_a_to_b,
       {sql_round_det("CAST(n_ab AS DOUBLE) / cb.c", 4)} AS conf_b_to_a,
       {sql_round_det(
           "(CAST(n_ab AS DOUBLE) * n.n_orders) / (CAST(ca.c AS DOUBLE) * cb.c)", 4)}
           AS lift
FROM pc
JOIN bc ca ON ca.p_brand = pc.brand_a
JOIN bc cb ON cb.p_brand = pc.brand_b
CROSS JOIN n
WHERE n_ab * {BASKET_SUPPORT_DEN} >= n.n_orders
""",
    tags=("E3", "E7", "E23"),
)
def basket_copurchase_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: for every
    brand pair co-purchased in >= 1% of orders, the support, both
    directional confidences, and the lift — the classic co-occurrence
    rule-mining shape (here at pair length, where the full frequency
    table is exactly computable and oracle-checkable). The support cut
    is an exact integer predicate (``n_ab * {BASKET_SUPPORT_DEN} >=
    n_orders``), so the surviving pair set is bit-identical across
    engines.

    Scale shape (r14 optimization — guide §2.4 "don't compute things
    twice"): baskets form with one order-keyed exchange (the part dim
    joins broadcast). The basket relation previously fed THREE separate
    consumers (pair counts, brand marginals, the basket-count scalar) —
    and Catalyst does not CSE across branches, so the join + collect_set
    aggregation replayed three times. All three statistics now come out
    of ONE explode: each basket emits its brand pairs, its single
    brands, and one (null, null) marker row, so a single
    (a, b)-keyed map-side-combined aggregate carries n_ab (pair rows),
    the marginals (single rows, b IS NULL), and n_orders (the marker) —
    one corpus pass instead of three (measured in-session A/B: sf0.1
    1.40 -> 1.06 s, 8x replica 2.70 -> 2.27 s, identical output).
    That aggregate is CATALOG-bounded (|brands|^2/2 + |brands| + 1
    rows), so it collects to the driver like the PCA Gram / decile-cut
    relations, and the support cut + rule arithmetic run driver-side
    under the shared rounding contract (round_det_py == round_det,
    IEEE-identical double division). Pair fan-out stays bounded by
    basket size squared — never a corpus self-join.
    """
    li = load_table_parallel(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = load_table_parallel(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    )
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("p_brand")).alias("brands"))
    )
    entries = F.concat(
        F.expr(
            "flatten(transform(brands, (x, i) -> "
            "transform(slice(brands, i + 2, size(brands)), "
            "y -> struct(x AS a, y AS b))))"
        ),
        F.expr("transform(brands, x -> struct(x AS a, CAST(NULL AS STRING) AS b))"),
        F.expr("array(struct(CAST(NULL AS STRING) AS a, CAST(NULL AS STRING) AS b))"),
    )
    cnts = (
        baskets.select(F.explode(entries).alias("e"))
        .groupBy(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    n_orders = 0
    marginal: dict[str, int] = {}
    pair_rows = []
    for r in cnts:
        if r["a"] is None:
            n_orders = r["c"]
        elif r["b"] is None:
            marginal[r["a"]] = r["c"]
        else:
            pair_rows.append((r["a"], r["b"], r["c"]))
    out = []
    for a, b, n_ab in pair_rows:
        if n_ab * BASKET_SUPPORT_DEN >= n_orders:
            n_a, n_b = marginal[a], marginal[b]
            f_ab = float(n_ab)
            out.append(
                (
                    a,
                    b,
                    n_ab,
                    n_a,
                    n_b,
                    n_orders,
                    round_det_py(f_ab / n_orders, 4),
                    round_det_py(f_ab / n_a, 4),
                    round_det_py(f_ab / n_b, 4),
                    round_det_py((f_ab * n_orders) / (float(n_a) * n_b), 4),
                )
            )
    return spark.createDataFrame(
        out,
        "brand_a string, brand_b string, n_ab bigint, n_a bigint, "
        "n_b bigint, n_orders bigint, support double, conf_a_to_b double, "
        "conf_b_to_a double, lift double",
    )


# --------------------------------------------------------------------------
# session_path_mining  (round-7 wave 6)
# --------------------------------------------------------------------------

#: Path length and top-k cut for the mined user-day event paths.
PATH_LEN = 3
PATH_TOP_K = 20


@register(
    "session_path_mining",
    oracle=f"""
WITH e AS (
    SELECT user_id, CAST(ts AS DATE) AS day, event_type,
           row_number() OVER (
               PARTITION BY user_id, CAST(ts AS DATE)
               ORDER BY ts, event_id
           ) AS rn
    FROM events
),
s AS (
    SELECT user_id, day,
           max(CASE WHEN rn = 1 THEN event_type END) AS e1,
           max(CASE WHEN rn = 2 THEN event_type END) AS e2,
           max(CASE WHEN rn = 3 THEN event_type END) AS e3
    FROM e WHERE rn <= {PATH_LEN}
    GROUP BY 1, 2
),
p AS (
    SELECT concat_ws('>', e1, e2, e3) AS path, count(*)::BIGINT AS n_sessions
    FROM s GROUP BY 1
),
tot AS (SELECT sum(n_sessions) AS t FROM p),
ranked AS (
    SELECT path, n_sessions,
           {sql_round_det("CAST(n_sessions AS DOUBLE) / t", 4)} AS share,
           row_number() OVER (ORDER BY n_sessions DESC, path) AS rnk
    FROM p CROSS JOIN tot
)
SELECT path, n_sessions, share, rnk::BIGINT AS rnk
FROM ranked WHERE rnk <= {PATH_TOP_K}
""",
    tags=("E10", "E14", "E25"),
)
def session_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top {PATH_TOP_K} most common user-day opening paths: per
    (user, day) session the first {PATH_LEN} event types in
    (ts, event_id) order joined as ``a>b>c`` (shorter sessions keep
    their shorter path — concat_ws skips the missing steps identically
    in both engines), counted and ranked with share-of-sessions. The
    rank is on exact integer counts with a lexicographic path tiebreak.

    Scale shape: one (user, day)-keyed exchange feeds the ordering
    window; the pivot to first/second/third is a map-side-combinable
    agg over rows already filtered to rn <= {PATH_LEN}; everything
    after lives on the path relation, bounded by |event_type|^{PATH_LEN}
    — the share join broadcasts the 1-row total (whitelisted BNLJ) and
    the rank window rides the bounded path relation.
    """
    ev = load_table_parallel(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "event_type", "ts", "event_id"
    )
    order = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    e = ev.withColumn("rn", F.row_number().over(order)).where(
        F.col("rn") <= PATH_LEN
    )
    s = e.groupBy("user_id", "day").agg(
        F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias("e1"),
        F.max(F.when(F.col("rn") == 2, F.col("event_type"))).alias("e2"),
        F.max(F.when(F.col("rn") == 3, F.col("event_type"))).alias("e3"),
    )
    p = s.select(
        F.concat_ws(">", "e1", "e2", "e3").alias("path")
    ).groupBy("path").agg(F.count("*").cast("bigint").alias("n_sessions"))
    tot = p.agg(F.sum("n_sessions").alias("t"))
    ranked = (
        p.crossJoin(F.broadcast(tot))
        .select(
            "path",
            "n_sessions",
            round_det(F.col("n_sessions").cast("double") / F.col("t"), 4).alias(
                "share"
            ),
            F.row_number()
            .over(Window.orderBy(F.col("n_sessions").desc(), "path"))
            .cast("bigint")
            .alias("rnk"),
        )
    )
    return ranked.where(F.col("rnk") <= PATH_TOP_K)


# --------------------------------------------------------------------------
# ewma_smoothing_capped  (round-7 wave 6)
# --------------------------------------------------------------------------

#: Smoothing factor and the finite window the EWMA is computed over.
#: A CAPPED window makes the recursive EWMA expressible as a fixed
#: finite weighted sum — identical left-to-right float arithmetic in
#: both engines — while (1-alpha)^14 ~ 0.7% bounds the truncation.
EWMA_ALPHA = 0.3
EWMA_WINDOW = 14


@register(
    "ewma_smoothing_capped",
    oracle=f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           count(*)::BIGINT AS n_events,
           {sql_round_det(
               "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"
               " / count(*)", 4)} AS day_avg
    FROM events GROUP BY 1, 2
),
arrd AS (
    SELECT event_type, day, n_events, day_avg,
           list(day_avg) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN {EWMA_WINDOW - 1} PRECEDING AND CURRENT ROW
           ) AS arr
    FROM daily
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n_events, day_avg,
       len(arr)::BIGINT AS window_n,
       {sql_round_det(
           f"list_sum([arr[i] * pow({1 - EWMA_ALPHA}, len(arr) - i)"
           f" for i in generate_series(1, len(arr))])"
           f" * {EWMA_ALPHA} / (1 - pow({1 - EWMA_ALPHA}, len(arr)))", 4)}
           AS ewma
FROM arrd
""",
    tags=("E10", "E16", "E17"),
)
def ewma_smoothing_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type exponentially weighted moving average of the
    daily mean value, alpha = {EWMA_ALPHA}, over a capped
    {EWMA_WINDOW}-day window: the smoothing baseline monitoring
    dashboards draw. The cap turns the textbook recursion into a
    finite weighted sum over the window array — both engines multiply
    the SAME 4-dp day averages by the SAME power weights and sum
    left-to-right over at most {EWMA_WINDOW} terms, so the float
    result is bit-identical; the truncated tail mass (1-alpha)^
    {EWMA_WINDOW} is under 1%, and the normalization divides by the
    window's actual weight mass so series starts are unbiased.

    Scale shape: the corpus collapses to the (type, day) daily
    aggregate FIRST (one keyed exchange with map-side combine); the
    window array and the weighted fold are codegen array expressions
    over the calendar-bounded daily relation — nothing corpus-sized is
    ever re-exchanged.
    """
    ev = load_table_parallel(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.col("value").cast("decimal(18,2)").alias("d"),
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count("*").cast("bigint").alias("n_events"),
        round_det(F.sum("d").cast("double") / F.count("*"), 4).alias("day_avg"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(EWMA_WINDOW - 1), Window.currentRow)
    )
    arrd = daily.withColumn("arr", F.collect_list("day_avg").over(w))
    beta = 1 - EWMA_ALPHA
    ewma = F.expr(
        f"aggregate(transform(arr, (x, i) -> x * pow({beta}, size(arr) - 1 - i)), "
        f"0D, (a, b) -> a + b) * {EWMA_ALPHA} / (1 - pow({beta}, size(arr)))"
    )
    return arrd.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        "day_avg",
        F.size("arr").cast("bigint").alias("window_n"),
        round_det(ewma, 4).alias("ewma"),
    )


# --------------------------------------------------------------------------
# conversion_latency_percentiles  (round-7 wave 6)
# --------------------------------------------------------------------------


@register(
    "conversion_latency_percentiles",
    oracle="""
WITH su AS (
    SELECT user_id, min(ts) AS signup_ts
    FROM events WHERE event_type = 'signup' GROUP BY 1
),
pu AS (
    SELECT e.user_id, min(e.ts) AS first_purchase_ts
    FROM events e JOIN su ON su.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND e.ts >= su.signup_ts
    GROUP BY 1
),
d AS (
    SELECT su.user_id,
           epoch(date_trunc('second', pu.first_purchase_ts))
               - epoch(date_trunc('second', su.signup_ts)) AS delay_sec
    FROM su JOIN pu USING (user_id)
),
n AS (SELECT count(*)::BIGINT AS n_signups FROM su)
SELECT n.n_signups,
       count(*)::BIGINT AS n_converted,
       round(CAST(count(*) AS DOUBLE) / n.n_signups, 4) AS conv_rate,
       min(delay_sec)::BIGINT AS min_sec,
       round(quantile_cont(delay_sec, 0.25), 4) AS p25_sec,
       round(quantile_cont(delay_sec, 0.50), 4) AS p50_sec,
       round(quantile_cont(delay_sec, 0.75), 4) AS p75_sec,
       round(quantile_cont(delay_sec, 0.90), 4) AS p90_sec,
       max(delay_sec)::BIGINT AS max_sec
FROM d CROSS JOIN n
GROUP BY n.n_signups
""",
    tags=("E6", "E7", "E15"),
)
def conversion_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-first-purchase conversion latency: of the users who
    ever signed up, how many later purchased, and the distribution
    (min / p25 / p50 / p75 / p90 / max, in seconds) of the delay from
    FIRST signup to FIRST subsequent purchase — the activation-funnel
    latency card. Delays are exact integer second differences on the
    second-truncated epoch; the percentiles are exact interpolated
    quantiles over that integer multiset (identical halving in both
    engines), rounded to 4 dp.

    Scale shape: two slim per-user min-aggregates (signup, then
    qualifying purchase — the signup floor broadcast onto the purchase
    scan), one user-keyed join of two user-sized relations, and a
    single global aggregate over the per-user delay relation (1 partial
    row per task + the broadcast 1-row signup count). Nothing larger
    than |users| survives past the first aggregates.
    """
    ev = load_table_parallel(spark, sf_dir, "events")
    su = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    pu = (
        ev.where(F.col("event_type") == "purchase")
        .join(F.broadcast(su), "user_id")
        .where(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase_ts"))
    )
    d = su.join(pu, "user_id").select(
        (
            F.unix_timestamp("first_purchase_ts") - F.unix_timestamp("signup_ts")
        ).alias("delay_sec")
    )
    n = su.agg(F.count("*").cast("bigint").alias("n_signups"))
    return (
        d.crossJoin(F.broadcast(n))
        .groupBy("n_signups")
        .agg(
            F.count("*").cast("bigint").alias("n_converted"),
            round_det(
                F.count("*").cast("double") / F.col("n_signups"), 4
            ).alias("conv_rate"),
            F.min("delay_sec").cast("bigint").alias("min_sec"),
            round_det(F.percentile("delay_sec", F.lit(0.25)), 4).alias("p25_sec"),
            round_det(F.percentile("delay_sec", F.lit(0.50)), 4).alias("p50_sec"),
            round_det(F.percentile("delay_sec", F.lit(0.75)), 4).alias("p75_sec"),
            round_det(F.percentile("delay_sec", F.lit(0.90)), 4).alias("p90_sec"),
            F.max("delay_sec").cast("bigint").alias("max_sec"),
        )
        .select(
            "n_signups",
            "n_converted",
            "conv_rate",
            "min_sec",
            "p25_sec",
            "p50_sec",
            "p75_sec",
            "p90_sec",
            "max_sec",
        )
    )


# --------------------------------------------------------------------------
# order_reorder_intervals  (round-7 wave 7)
# --------------------------------------------------------------------------


@register(
    "order_reorder_intervals",
    oracle=f"""
WITH o AS (
    SELECT o_custkey, o_orderdate, o_orderkey,
           lag(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS prev_date
    FROM orders
),
g AS (
    SELECT o_custkey,
           date_diff('day', prev_date, o_orderdate) AS gap_days
    FROM o WHERE prev_date IS NOT NULL
)
SELECT o_custkey AS custkey,
       count(*)::BIGINT + 1 AS n_orders,
       min(gap_days)::BIGINT AS min_gap_days,
       max(gap_days)::BIGINT AS max_gap_days,
       {sql_round_det("CAST(sum(gap_days) AS DOUBLE) / count(*)", 4)}
           AS mean_gap_days
FROM g GROUP BY o_custkey
""",
    tags=("E7", "E10", "E15"),
)
def order_reorder_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer purchase cadence: for every customer with >= 2
    orders, the min / max / mean gap in days between consecutive
    orders (ordered by (date, orderkey) — a total order, so the lag
    sequence is identical in both engines). Gaps are exact integer day
    differences; the mean divides two integers.

    Scale shape: ONE customer-keyed exchange serves both the lag
    window and the per-customer aggregate (same partitioning, reused);
    nothing larger than the orders table moves, and the output is
    customer-sized. The classic RFM-adjacent cadence feature without any
    self-join.
    """
    o = load_table_parallel(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = (
        o.withColumn("prev_date", F.lag("o_orderdate").over(w))
        .where(F.col("prev_date").isNotNull())
        .select(
            "o_custkey",
            F.datediff("o_orderdate", "prev_date").alias("gap_days"),
        )
    )
    return g.groupBy("o_custkey").agg(
        (F.count("*") + 1).cast("bigint").alias("n_orders"),
        F.min("gap_days").cast("bigint").alias("min_gap_days"),
        F.max("gap_days").cast("bigint").alias("max_gap_days"),
        round_det(F.sum("gap_days").cast("double") / F.count("*"), 4).alias(
            "mean_gap_days"
        ),
    ).withColumnRenamed("o_custkey", "custkey")
