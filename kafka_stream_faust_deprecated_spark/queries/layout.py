"""Data-layout, runtime-filter, and sketch operators (round-7 additions).

The 100 TB themes this module covers, each as an oracle-checked query:

* ``join_bloom_prefilter``   — Bloom-filter semi-join reduction (the
  runtime-filter pattern Spark applies to shuffle joins, built here
  explicitly from JVM bitwise expressions so the fact scan is pruned
  BEFORE any join machinery runs).
* ``zorder_layout_quality``  — Morton/z-order interleaved layout vs a
  hash layout: per-cell min/max bounds and probe-rectangle hits, i.e.
  the file-skipping statistics a lakehouse writer would publish.
* ``incremental_agg_maintenance`` — merge a delta batch's partial
  aggregate state into a base snapshot's state (incremental
  materialized-view maintenance) instead of rescanning the base.
* ``hard_negative_mining``   — per-query top-k nearest neighbors with a
  DIFFERENT label (contrastive-training data prep over embeddings).
* ``heavy_hitters_cms_estimate`` — Count-Min sketch as a mergeable
  distributed aggregate, probed back against exact counts.

Reference parity note: the reference app (faust_app/ma_agg.py) has no
layout/sketch surface; these extend the engine for the large-scale
training-data pipeline mandate (SURVEY.md §2c).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_stream_faust_deprecated_spark.functions.rounding import (
    round_det,
    round_det_py,
    sql_round_det,
)
from kafka_stream_faust_deprecated_spark.functions.vectors import cosine, dot
from kafka_stream_faust_deprecated_spark.io import load_table, load_table_parallel
from kafka_stream_faust_deprecated_spark.queries.llm import _sql_hex_to_int
from kafka_stream_faust_deprecated_spark.registry import register

# --------------------------------------------------------------------------
# join_bloom_prefilter
# --------------------------------------------------------------------------

#: Bloom geometry: m bits / k hashes. At sf1 the build side is ~30k keys
#: -> fp ~ (1 - e^(-k*n/m))^k; the filter is advisory (false positives
#: are removed by the exact verify join), so under-sizing degrades
#: pruning, never correctness.
BLOOM_BITS = 16384
BLOOM_WORDS = BLOOM_BITS // 64
BLOOM_HASHES = 4
BLOOM_ACCTBAL_MIN = 8000.0


def _bloom_hash(key: F.Column, seed: int) -> F.Column:
    """Hash ``key`` into a bit position [0, BLOOM_BITS); the seed column
    varies the xxhash64 input, giving k independent positions."""
    return F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(BLOOM_BITS))


@register(
    "join_bloom_prefilter",
    oracle=f"""
SELECT o.o_orderpriority,
       count(*)::BIGINT AS order_cnt,
       {sql_round_det("CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)", 2)} AS revenue
FROM orders o
WHERE o.o_custkey IN (
    SELECT c_custkey FROM customer WHERE c_acctbal > {BLOOM_ACCTBAL_MIN}
)
GROUP BY o.o_orderpriority
""",
    tags=("E3", "E4"),
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction via an explicit Bloom filter: revenue of
    orders placed by high-balance customers.

    Spark's own runtime filters (``bloom_filter_agg``) are an internal
    optimizer rewrite; this query builds the same artifact from public
    primitives so the pattern is available unconditionally: (1) the
    small build side hashes each key k={BLOOM_HASHES} times and ORs
    per-word masks into a {BLOOM_BITS}-bit filter (``bit_or`` aggregate,
    {BLOOM_WORDS} longs); (2) the bounded bitset — a few KB, same class
    as a k-means centroid pull — is embedded as an array literal, so the
    fact-side membership probe is pure codegen bitwise arithmetic inside
    the scan stage (no join, no shuffle, no UDF); (3) survivors are
    verified with an exact broadcast semi join, which removes Bloom
    false positives — the filter can only prune, never change the
    result, which is why the oracle is the plain semi join.

    100 TB shape: the orders scan drops ~80% of rows before the first
    exchange; the only shuffle is the final 5-group aggregate. The
    build side is scanned once (it is the dimension side — small) and
    broadcast once for the verify join.
    """
    cust = load_table(spark, sf_dir, "customer")
    keys = cust.where(F.col("c_acctbal") > BLOOM_ACCTBAL_MIN).select("c_custkey")

    # Build: k bit positions per key -> (word, mask) -> bit_or per word.
    pos = keys.select(
        F.explode(
            F.array(
                *[_bloom_hash(F.col("c_custkey"), s) for s in range(BLOOM_HASHES)]
            )
        ).alias("h")
    )
    words = (
        pos.select(
            (F.col("h") / 64).cast("int").alias("w"),
            F.expr("shiftleft(1L, CAST(h % 64 AS INT))").alias("mask"),
        )
        .groupBy("w")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    bitset = [0] * BLOOM_WORDS
    for r in words:
        bitset[r["w"]] = r["bits"]

    orders = load_table(spark, sf_dir, "orders")
    blit = F.lit(bitset)
    probe_ok = F.lit(True)
    for s in range(BLOOM_HASHES):
        h = _bloom_hash(F.col("o_custkey"), s)
        word = F.element_at(blit, (h / 64).cast("int") + 1)
        mask = F.expr(
            f"shiftleft(1L, CAST(pmod(xxhash64(o_custkey, {s}), {BLOOM_BITS}) % 64 AS INT))"
        )
        probe_ok = probe_ok & (word.bitwiseAND(mask) != 0)

    survivors = orders.where(probe_ok)
    exact = survivors.join(F.broadcast(keys), F.col("o_custkey") == F.col("c_custkey"), "left_semi")
    return (
        exact.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            round_det(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# zorder_layout_quality
# --------------------------------------------------------------------------

ZORDER_DIM_BITS = 8  # each dimension quantized to [0, 256)
ZORDER_CELL_SHIFT = 10  # 16-bit z -> top 6 bits -> 64 cells
PROBE_D1_LO, PROBE_D1_HI = 32, 63
PROBE_D2_LO, PROBE_D2_HI = 96, 127


def _z_interleave_terms(d1: str, d2: str, shift: str) -> str:
    """Bit-interleave SQL: z = ... d1[i] at odd bits, d2[i] at even bits.
    ``shift`` is the engine's right-shift idiom with two placeholders."""
    terms = []
    for i in range(ZORDER_DIM_BITS):
        terms.append(f"({shift.format(col=d1, n=i)} & 1) * {2 ** (2 * i + 1)}")
        terms.append(f"({shift.format(col=d2, n=i)} & 1) * {2 ** (2 * i)}")
    return " + ".join(terms)


def _layout_cell_sql(layout: str, cell: str) -> str:
    return f"""
SELECT '{layout}' AS layout, {cell} AS cell_id,
       count(*)::BIGINT AS rows_in_cell,
       min(d1)::BIGINT AS d1_min, max(d1)::BIGINT AS d1_max,
       min(d2)::BIGINT AS d2_min, max(d2)::BIGINT AS d2_max,
       (NOT (max(d1) < {PROBE_D1_LO} OR min(d1) > {PROBE_D1_HI}
             OR max(d2) < {PROBE_D2_LO} OR min(d2) > {PROBE_D2_HI})) AS probe_hit
FROM coords GROUP BY 1, 2
"""


@register(
    "zorder_layout_quality",
    oracle=f"""
WITH coords AS (
    SELECT l_orderkey,
           l_partkey % 256 AS d1,
           l_orderkey % 256 AS d2,
           ({_z_interleave_terms("d1", "d2", "({col} >> {n})")}) AS z
    FROM lineitem
)
{_layout_cell_sql("zorder", f"z // {2 ** ZORDER_CELL_SHIFT}")}
UNION ALL
{_layout_cell_sql("hash", "l_orderkey % 64")}
""",
    tags=("E7",),
)
def zorder_layout_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout vs hash layout, graded by the min/max
    pruning statistics a lakehouse writer would publish per file.

    Rows are assigned to 64 cells two ways: (a) ``zorder`` — interleave
    the bits of two quantized dimensions (d1 = l_partkey%256,
    d2 = l_orderkey%256) and take the top 6 bits of the 16-bit Morton
    code, the same curve Delta/Iceberg OPTIMIZE ZORDER walks; (b)
    ``hash`` — l_orderkey%64, the layout an unclustered ingest produces.
    Each cell reports its d1/d2 min/max envelope plus whether a fixed
    probe rectangle (d1 in [{PROBE_D1_LO},{PROBE_D1_HI}], d2 in
    [{PROBE_D2_LO},{PROBE_D2_HI}]) overlaps it: z-order cells have tight
    envelopes so few cells are hit (files skipped), hash cells span the
    full domain so every cell is hit.

    100 TB shape: cell assignment is pure integer codegen inside the
    scan (NO global sort — at scale the writer range-partitions by z,
    and the top-bits cell here is exactly that range id); the only
    exchange is the 128-group aggregate. Entirely JVM-side integer
    arithmetic, bit-identical across engines.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_partkey") % 256).alias("d1"),
        (F.col("l_orderkey") % 256).alias("d2"),
    )
    z = F.expr(_z_interleave_terms("d1", "d2", "shiftright({col}, {n})"))
    coords = li.withColumn("z", z)

    def cells(df: DataFrame, layout: str, cell: F.Column) -> DataFrame:
        return (
            df.groupBy(F.lit(layout).alias("layout"), cell.alias("cell_id"))
            .agg(
                F.count(F.lit(1)).alias("rows_in_cell"),
                F.min("d1").alias("d1_min"),
                F.max("d1").alias("d1_max"),
                F.min("d2").alias("d2_min"),
                F.max("d2").alias("d2_max"),
            )
            .withColumn(
                "probe_hit",
                ~(
                    (F.col("d1_max") < PROBE_D1_LO)
                    | (F.col("d1_min") > PROBE_D1_HI)
                    | (F.col("d2_max") < PROBE_D2_LO)
                    | (F.col("d2_min") > PROBE_D2_HI)
                ),
            )
        )

    zcells = cells(coords, "zorder", F.expr(f"z div {2 ** ZORDER_CELL_SHIFT}"))
    hcells = cells(coords, "hash", F.col("l_orderkey") % 64)
    return zcells.unionByName(hcells)


# --------------------------------------------------------------------------
# incremental_agg_maintenance
# --------------------------------------------------------------------------

IVM_CUTOFF = "2000-01-01"


@register(
    "incremental_agg_maintenance",
    oracle=f"""
SELECT o_orderpriority,
       year(o_orderdate)::BIGINT AS yr,
       count(*)::BIGINT AS order_cnt,
       {sql_round_det("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)", 2)} AS revenue,
       sum(CASE WHEN o_orderdate >= TIMESTAMP '{IVM_CUTOFF} 00:00:00' THEN 1 ELSE 0 END)::BIGINT AS delta_rows
FROM orders
GROUP BY 1, 2
""",
    tags=("E7",),
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: merge a delta batch's
    partial aggregate state into the base snapshot's state, never
    rescanning the base rows.

    The view is revenue per (priority, year). ``base`` is the already-
    materialized state for orders before {IVM_CUTOFF}; the delta
    (orders on/after the cutoff) is aggregated alone and merged with a
    full-outer coalesce on the group key — count adds, sum adds — which
    is valid because count/sum are commutative monoids (avg/stddev
    would carry (sum, count) / (n, mean, M2) state the same way). The
    oracle is the full recompute, proving merged state == rescan.

    100 TB shape: the base is one parquet snapshot of GROUPS (thousands
    of rows, not billions); only the delta partition is scanned —
    partition pruning makes the daily maintenance cost O(delta), the
    whole point of IVM. Sums ride DECIMAL(18,2) so state merge is exact
    and order-independent.
    """
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.to_timestamp(F.lit(f"{IVM_CUTOFF} 00:00:00"))
    key = [F.col("o_orderpriority"), F.year("o_orderdate").cast("bigint").alias("yr")]

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy(*key).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
        )

    base = state(orders.where(F.col("o_orderdate") < cutoff))
    delta = state(orders.where(F.col("o_orderdate") >= cutoff))
    merged = base.alias("b").join(
        delta.alias("d"),
        on=["o_orderpriority", "yr"],
        how="full_outer",
    )
    zero = F.lit(0).cast("bigint")
    dzero = F.lit(0).cast("decimal(18,2)")
    return merged.select(
        "o_orderpriority",
        "yr",
        (F.coalesce(F.col("b.cnt"), zero) + F.coalesce(F.col("d.cnt"), zero)).alias(
            "order_cnt"
        ),
        round_det(
            (
                F.coalesce(F.col("b.rev"), dzero) + F.coalesce(F.col("d.rev"), dzero)
            ).cast("double"),
            2,
        ).alias("revenue"),
        F.coalesce(F.col("d.cnt"), zero).alias("delta_rows"),
    )


# --------------------------------------------------------------------------
# hard_negative_mining
# --------------------------------------------------------------------------

HNM_N_QUERIES = 8
HNM_K = 5


@register(
    "hard_negative_mining",
    oracle=f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e WHERE vec_id < {HNM_N_QUERIES}),
s AS (
    SELECT qid, e.vec_id AS nid, e.label AS nlabel,
           {sql_round_det(
               "list_dot_product(qv, v)"
               " / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))",
               6,
           )} AS cos6
    FROM q CROSS JOIN e
    WHERE e.label <> qlabel
)
SELECT qid AS query_id, nid AS neighbor_id, nlabel AS neighbor_label,
       rn AS rnk, {sql_round_det("cos6", 4)} AS cosine
FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos6 DESC, nid) AS rn FROM s)
WHERE rn <= {HNM_K}
""",
    tags=("E24",),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k most-similar corpus vectors whose LABEL differs —
    the "close but wrong" examples a retrieval/embedding trainer pairs
    with each anchor.

    Same scan shape as knn_cosine_bruteforce (broadcast the bounded
    query set, one corpus scan, JVM zip_with/aggregate cosine) plus the
    label-mismatch predicate applied BEFORE ranking, so positives never
    occupy candidate slots. Ranking keys on the 6-decimal-rounded
    cosine with the neighbor id as tiebreak — the cross-engine rank
    determinism contract (a last-ulp summation difference cannot flip
    an ordering that 6-dp rounding has already equalized).

    100 TB shape: the corpus is scanned once with no self-join; the
    only exchange is the per-query top-k window over ~n_queries * k
    candidate rows after local pre-ranking. For corpus-sized query
    sets, swap the broadcast for the IVF/PQ index (ann_cosine_ivfpq)
    with the same label-mismatch predicate on the candidate list.
    """
    e = load_table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").alias("v")
    )
    q = e.where(F.col("vec_id") < HNM_N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    scored = e.join(F.broadcast(q), F.col("label") != F.col("qlabel")).select(
        "qid",
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nlabel"),
        round_det(cosine(F.col("qv"), F.col("v")), 6).alias("cos6"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.col("cos6").desc(), F.col("nid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= HNM_K)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            F.col("nlabel").alias("neighbor_label"),
            F.col("rn").alias("rnk"),
            round_det(F.col("cos6"), 4).alias("cosine"),
        )
    )


# --------------------------------------------------------------------------
# heavy_hitters_cms_estimate
# --------------------------------------------------------------------------

CMS_DEPTH = 3
CMS_WIDTH = 256
CMS_TOPK = 20


def _cms_cell_sql(r: str, key: str) -> str:
    """DuckDB: Count-Min cell for row ``r`` and key expr ``key``."""
    h = _sql_hex_to_int(f"substr(md5('cms' || CAST({r} AS VARCHAR) || '_' || CAST({key} AS VARCHAR)), 1, 8)", 8)
    return f"({h} % {CMS_WIDTH})"


@register(
    "heavy_hitters_cms_estimate",
    oracle=f"""
WITH rows_r AS (SELECT unnest(generate_series(0, {CMS_DEPTH - 1})) AS r),
sketch AS (
    SELECT r, {_cms_cell_sql("r", "e.user_id")} AS cell, count(*)::BIGINT AS cnt
    FROM events e CROSS JOIN rows_r
    GROUP BY 1, 2
),
exact AS (
    SELECT user_id, count(*)::BIGINT AS exact_cnt FROM events GROUP BY 1
),
probes AS (
    SELECT user_id, r, {_cms_cell_sql("r", "exact.user_id")} AS cell
    FROM exact CROSS JOIN rows_r
),
est AS (
    SELECT p.user_id, min(s.cnt)::BIGINT AS est_cnt
    FROM probes p JOIN sketch s ON p.r = s.r AND p.cell = s.cell
    GROUP BY 1
)
SELECT e.user_id, est_cnt, exact_cnt, (est_cnt - exact_cnt)::BIGINT AS overcount
FROM est JOIN exact e USING (user_id)
ORDER BY est_cnt DESC, e.user_id
LIMIT {CMS_TOPK}
""",
    tags=("E7", "E8"),
)
def heavy_hitters_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation, probed against exact
    counts: the mergeable-sketch pattern for heavy hitters over domains
    too wide for exact per-key state.

    Build: each event hashes into one cell per sketch row (depth
    {CMS_DEPTH} x width {CMS_WIDTH}; cells from md5 hex windows, the
    repo's no-RNG determinism contract), and the sketch is a groupBy
    over (row, cell) — crucially a MERGEABLE aggregate: map-side
    partial sketches combine by cell-wise addition, which is exactly
    what Spark's partial aggregation does for free. Probe: each
    candidate key reads its {CMS_DEPTH} cells and takes the min — the
    classic CMS upper bound (estimate >= exact always; equality when no
    collision in at least one row). The output pins estimate, exact,
    and the overcount side by side; the oracle replicates the sketch
    bit-for-bit, so the comparison checks cross-engine determinism of
    the whole construction, while tests/test_layout.py pins the
    one-sided error bound.

    100 TB shape: the sketch is {CMS_DEPTH}x{CMS_WIDTH} longs regardless
    of corpus size — it rides one tiny exchange and broadcasts to the
    probe side; the width is deliberately small so the OVERFLOW regime
    (collisions) is exercised at test scale, mirroring
    streaming/episodes.py's bounded-budget Space-Saving twin.
    """
    events = load_table(spark, sf_dir, "events")
    rows_r = F.explode(F.array(*[F.lit(r) for r in range(CMS_DEPTH)])).alias("r")

    def cell(r: F.Column, key: F.Column) -> F.Column:
        s = F.concat(F.lit("cms"), r.cast("string"), F.lit("_"), key.cast("string"))
        return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long") % CMS_WIDTH

    sketch = (
        events.select(F.col("user_id"), rows_r)
        .select("r", cell(F.col("r"), F.col("user_id")).alias("cell"))
        .groupBy("r", "cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    probes = exact.select("user_id", rows_r).select(
        "user_id", "r", cell(F.col("r"), F.col("user_id")).alias("cell")
    )
    est = (
        probes.join(F.broadcast(sketch), on=["r", "cell"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    return (
        est.join(exact, on="user_id")
        .select(
            "user_id",
            "est_cnt",
            "exact_cnt",
            (F.col("est_cnt") - F.col("exact_cnt")).alias("overcount"),
        )
        .orderBy(F.col("est_cnt").desc(), F.col("user_id"))
        .limit(CMS_TOPK)
    )


# --------------------------------------------------------------------------
# interval_coverage_islands
# --------------------------------------------------------------------------

#: Each event opens a fixed activity interval [ts, ts + 5 min).
ISLAND_SPAN_US = 300_000_000


@register(
    "interval_coverage_islands",
    oracle=f"""
WITH iv AS (
    SELECT user_id, event_id,
           epoch_us(ts)::BIGINT AS t0,
           epoch_us(ts)::BIGINT + {ISLAND_SPAN_US} AS t1
    FROM events
),
fl AS (
    SELECT *, CASE WHEN max(t1) OVER w IS NULL OR t0 > max(t1) OVER w
                   THEN 1 ELSE 0 END AS ni
    FROM iv
    WINDOW w AS (PARTITION BY user_id ORDER BY t0, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
isl AS (
    SELECT *, sum(ni) OVER (PARTITION BY user_id ORDER BY t0, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM fl
),
g AS (
    SELECT user_id, island, min(t0) AS s, max(t1) AS e, count(*) AS c
    FROM isl GROUP BY 1, 2
)
SELECT user_id,
       count(*)::BIGINT AS n_islands,
       sum(e - s)::BIGINT AS covered_us,
       max(e - s)::BIGINT AS max_island_us,
       sum(c)::BIGINT AS n_events
FROM g GROUP BY 1
""",
    tags=("E10", "E19"),
)
def interval_coverage_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union (gaps-and-islands): merge each user's overlapping
    activity intervals [ts, ts+5min) into maximal islands and report
    coverage — the classic uptime / active-time computation that naive
    ``count(distinct minute)`` approximations get wrong at the edges.

    The merge is the running-max trick: sorted by start within the
    user, a row opens a NEW island iff its start exceeds the max end
    among all earlier rows; the island id is the running sum of those
    flags. Timestamps ride microsecond integers (unix_micros ↔
    epoch_us) so every duration is exact BIGINT arithmetic — no float,
    no truncation divergence between engines.

    100 TB shape: ONE exchange on user_id feeds both windows and the
    island aggregate (same partitioning reused across all three
    stages); group size is a user's event count, never the corpus.
    Distinct from sessionize_capped: that op CUTS sessions by gap/cap
    for downstream grouping, this one UNIONS intervals for coverage
    measurement (different algebra: max-end monotone merge vs gap
    split).
    """
    from pyspark.sql.window import Window

    # ts is TIMESTAMP_NTZ: unix_micros() rejects it and a cast to
    # TIMESTAMP would inject the session timezone (DST would bend
    # island boundaries). timestampdiff against the NTZ epoch is pure
    # calendar arithmetic — bit-identical to DuckDB's naive epoch_us
    # under ANY session/machine timezone.
    epoch_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
    )
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        epoch_us.alias("t0"),
        (epoch_us + ISLAND_SPAN_US).alias("t1"),
    )
    order = Window.partitionBy("user_id").orderBy("t0", "event_id")
    prev_max = F.max("t1").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = ev.withColumn(
        "ni",
        F.when(prev_max.isNull() | (F.col("t0") > prev_max), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("ni").over(order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_island = islands.groupBy("user_id", "island").agg(
        F.min("t0").alias("s"), F.max("t1").alias("e"), F.count(F.lit(1)).alias("c")
    )
    return per_island.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("e") - F.col("s")).alias("covered_us"),
        F.max(F.col("e") - F.col("s")).alias("max_island_us"),
        F.sum("c").alias("n_events"),
    )


# --------------------------------------------------------------------------
# embedding_pca_power_iteration
# --------------------------------------------------------------------------

PCA_ITERS = 3


def _pca_v0(dim: int) -> list[float]:
    import math as _math

    return [round_det_py(1.0 / _math.sqrt(dim), 6)] * dim


#: Decimals the dim x dim Gram matrix is rounded to ON BOTH SIDES
#: before the iteration chain starts. The chain then consumes bit-
#: identical inputs in both engines, so cross-engine fp-summation-order
#: noise can only enter through the G sums themselves — where a 1e-4
#: rounding step dwarfs the ~1e-11 order noise of a distributed double
#: sum (the r8-advice flake: rounding only the per-iteration w left the
#: two engines summing DIFFERENT spellings — row-sum replay vs Gram
#: matvec — of every chained quantity).
PCA_G_DECIMALS = 4


def _pca_oracle() -> str:
    from kafka_stream_faust_deprecated_spark.queries.llm import EMBED_DIM

    v0 = _pca_v0(EMBED_DIM)
    v0_sql = "SELECT j, CASE " + " ".join(
        # all components equal: one literal, but keep the per-j CASE
        # shape trivial
        [f"WHEN TRUE THEN {v0[0]!r}"]
    ) + " END AS vj FROM js"
    chain = [
        f"js AS (SELECT unnest(generate_series(0, {EMBED_DIM - 1})) AS j)",
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings)",
        # The SAME rounded Gram matrix the Spark side collects: G is the
        # only corpus-sized sum, rounded at PCA_G_DECIMALS on both sides
        # so the iteration chain below starts from identical state.
        "g AS (SELECT a.j AS j, b.j AS k, "
        + sql_round_det("sum(x[a.j + 1] * x[b.j + 1])", PCA_G_DECIMALS)
        + " AS g FROM e CROSS JOIN js a CROSS JOIN js b GROUP BY 1, 2)",
        f"v0 AS ({v0_sql})",
    ]
    prev = "v0"
    for it in range(1, PCA_ITERS + 1):
        chain.append(
            f"w{it} AS (SELECT g.j, "
            + sql_round_det("sum(g.g * v.vj)", 6)
            + f" AS w FROM g JOIN {prev} v ON g.k = v.j GROUP BY g.j)"
        )
        chain.append(
            f"v{it} AS (SELECT j, "
            + sql_round_det(f"w / (SELECT sqrt(sum(w * w)) FROM w{it})", 6)
            + f" AS vj FROM w{it})"
        )
        prev = f"v{it}"
    last = PCA_ITERS
    return (
        "WITH " + ",\n".join(chain) + f"""
SELECT j::BIGINT AS component, {sql_round_det("vj", 4)} AS loading,
       {sql_round_det(f"(SELECT sqrt(sum(w * w)) FROM w{last})", 4)} AS eigval
FROM v{last}
"""
    )


@register("embedding_pca_power_iteration", oracle=_pca_oracle(), tags=("E24",))
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by {PCA_ITERS}
    power-iteration steps: v <- normalize(X^T X v), the dominant
    eigenvector of the (uncentered) Gram matrix — the whitening /
    anisotropy diagnostic an embedding pipeline runs before indexing
    (dominant-direction removal is the standard fix for anisotropic
    embedding spaces).

    Single-pass Gram form: because w = X^T(Xv) = (X^T X)v exactly (in
    real arithmetic), the corpus is scanned ONCE to build the dim x dim
    Gram matrix G — one X^T X BLAS matmul per Arrow batch
    (``mapInArrow``) emitting a per-partition partial Gram, reduced by a
    (j, k)-keyed aggregate to dim^2 sums — and all {PCA_ITERS}
    iterations are O(dim^2) driver-side matvecs over the collected G.
    Cross-engine determinism via the repo's rounding contract: G's
    entries are rounded to {PCA_G_DECIMALS} decimals ON BOTH SIDES (the
    oracle builds the same rounded Gram CTE), so the iteration chain
    consumes bit-identical inputs in both engines; the matvec result and
    the normalized vector are then rounded to 6 decimals each iteration
    (driver-side with the same floor(x*s+0.5)/s rule — not Python
    banker's rounding).

    100 TB shape: ONE corpus scan total;
    driver state is the O(dim^2) Gram matrix (64 KB at dim 64 — bounded
    by the embedding width, not the corpus); the corpus never shuffles
    (the 64-key partial agg moves 64 x 64 sums per partition).
    """
    import math as _math

    import numpy as np
    import pyarrow as pa

    from kafka_stream_faust_deprecated_spark.functions.vectors import _matrix
    from kafka_stream_faust_deprecated_spark.queries.llm import EMBED_DIM

    e = load_table_parallel(spark, sf_dir, "embeddings").select(
        F.col("embedding").alias("x")
    )
    dim = EMBED_DIM

    # Determinism: BLAS accumulation order differs from a sequential
    # sum by ~1e-12 relative, absorbed by the PCA_G_DECIMALS rounding
    # that already absorbs the Spark-vs-DuckDB order difference. The
    # residual risk is a true G-cell sum within ~1e-12 relative of a
    # .00005 half-step, where the rounded cell (and through the power
    # iteration, the whole output) can flip between partition layouts —
    # the half-step class every rounded float aggregate in the engine
    # carries. The fix for such a flip is more guard precision (round
    # partials at 1e-8 before the final 1e-4 round), never a looser
    # oracle contract.
    def _gram_parts(batches):
        acc = np.zeros((dim, dim), dtype=np.float64)
        seen = False
        for b in batches:
            if b.num_rows:
                X = _matrix(b.column(0))
                acc += X.T @ X
                seen = True
        if seen:
            j, k = np.divmod(np.arange(dim * dim, dtype=np.int32), dim)
            yield pa.RecordBatch.from_arrays(
                [pa.array(j), pa.array(k), pa.array(acc.ravel())], names=["j", "k", "v"]
            )

    g_rows = (
        e.mapInArrow(_gram_parts, schema="j int, k int, v double")
        .groupBy("j", "k")
        .agg(round_det(F.sum("v"), PCA_G_DECIMALS).alias("g"))
        .collect()
    )
    G = [[0.0] * EMBED_DIM for _ in range(EMBED_DIM)]
    for r in g_rows:
        G[r["j"]][r["k"]] = r["g"]
    v = _pca_v0(EMBED_DIM)
    norm = 1.0
    for _ in range(PCA_ITERS):
        w = [
            round_det_py(sum(G[j][k] * v[k] for k in range(EMBED_DIM)), 6)
            for j in range(EMBED_DIM)
        ]
        norm = _math.sqrt(sum(c * c for c in w))
        v = [round_det_py(c / norm, 6) for c in w] if norm > 0 else v
    out = [(j, round_det_py(v[j], 4), round_det_py(norm, 4)) for j in range(EMBED_DIM)]
    return spark.createDataFrame(out, "component bigint, loading double, eigval double")


# --------------------------------------------------------------------------
# vocab_oov_coverage
# --------------------------------------------------------------------------

VOCAB_TOP_V = 512


def _oov_oracle() -> str:
    from kafka_stream_faust_deprecated_spark.queries.llm import SQL_NORM

    return f"""
WITH tok AS (
    SELECT doc_id, source, unnest(string_split({SQL_NORM}, ' ')) AS w
    FROM documents
),
cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
vocab AS (
    SELECT w FROM (
        SELECT w, row_number() OVER (ORDER BY c DESC, w) AS rn FROM cnt
    ) WHERE rn <= {VOCAB_TOP_V}
),
tagged AS (
    SELECT t.doc_id, t.source, t.w, (v.w IS NOT NULL) AS in_vocab
    FROM tok t LEFT JOIN vocab v ON t.w = v.w
)
SELECT source,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS total_tokens,
       sum(CASE WHEN in_vocab THEN 0 ELSE 1 END)::BIGINT AS oov_tokens,
       {sql_round_det("sum(CASE WHEN in_vocab THEN 0 ELSE 1 END) / count(*)", 4)} AS oov_rate,
       count(DISTINCT CASE WHEN NOT in_vocab THEN w END)::BIGINT AS oov_types
FROM tagged
GROUP BY 1
"""


@register("vocab_oov_coverage", oracle=_oov_oracle(), tags=("E25",))
def vocab_oov_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: derive the top-{VOCAB_TOP_V}
    whitespace-token vocabulary from the corpus itself, then measure
    each source's out-of-vocabulary token rate and OOV type count — the
    pre-training check that a tokenizer's vocab actually covers every
    source mix (a source with high OOV rate will fragment into bytes
    and inflate its effective token cost).

    Shape: one tokenize pass feeds a vocabulary-keyed count (map-side
    combined); the top-V cut is a rank over the DISTINCT-TOKEN relation
    (vocabulary-bounded, not corpus-bounded — the same class as
    pmi_token_cooccurrence's support rank, whitelisted as such); the
    membership tag is a broadcast left join of the V-row vocab against
    the token stream; the final rollup is one source-keyed aggregate.
    The corpus token stream is never re-shuffled — only counted.
    """
    from kafka_stream_faust_deprecated_spark.functions.text import tokens
    from pyspark.sql.window import Window

    docs = load_table_parallel(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("w")
    )
    cnt = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        cnt.withColumn(
            "rn", F.row_number().over(Window.orderBy(F.col("c").desc(), F.col("w")))
        )
        .where(F.col("rn") <= VOCAB_TOP_V)
        .select("w")
    )
    tagged = tok.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(True))), on="w", how="left"
    ).withColumn("in_vocab", F.coalesce(F.col("in_vocab"), F.lit(False)))
    oov = F.when(F.col("in_vocab"), 0).otherwise(1)
    return tagged.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("total_tokens"),
        F.sum(oov).alias("oov_tokens"),
        round_det(F.sum(oov) / F.count(F.lit(1)), 4).alias("oov_rate"),
        F.countDistinct(F.when(~F.col("in_vocab"), F.col("w"))).alias("oov_types"),
    )


# --------------------------------------------------------------------------
# distinct_hll_rollup  (wave 11 — mergeable-sketch rollup)
# --------------------------------------------------------------------------

#: DataSketches HLL lgK: 2^12 registers => ~1.6% relative standard
#: error. Chosen over the default (12 is the Spark default) explicitly
#: so the docstring's error claim is pinned to a parameter.
HLL_LGK = 12


@register("distinct_hll_rollup", oracle=None, tags=("E8",))
def distinct_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-(event_type, day) DataSketches HLL
    sketches of the distinct user set, re-aggregated per event_type by
    sketch UNION — the pattern that makes 100 TB distinct-count
    dashboards incremental (daily sketch build touches only the new
    partition; any month/quarter/arbitrary-range distinct is a register
    merge of stored sketches, never a rescan). This is what
    ``approx_count_distinct`` alone cannot do: its per-group estimates
    are terminal doubles, while HLL sketches compose. Emitted per type:
    the day count, the sum of per-day estimates (the WRONG union-free
    answer kept for contrast), the merged-sketch estimate, the exact
    distinct count, and the merged estimate's relative error.

    Determinism: a DataSketches HLL sketch is a register array built by
    per-item hashing with max-merge — insertion order and partitioning
    cannot change it — and the estimate is a pure function of the
    registers, so the output is stable across runs/partitionings (the
    driver's rows-only record is meaningful). No DuckDB oracle: sketch
    registers are implementation-specific; tests pin the estimates to
    the exact counts within the lgK={HLL_LGK} error budget and pin
    merge-vs-direct consistency.

    Scale shape: one scan into a (type, day)-keyed partial-sketch
    aggregate (sketches combine map-side like any monoid aggregate);
    the union re-aggregate moves |types| x |days| sketch blobs (~2.5 KB
    each at lgK={HLL_LGK}), never rows. The exact-distinct comparison
    column is the only corpus-sized second exchange and exists for the
    error report, not the rollup.
    """
    ev = load_table_parallel(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    # Build each (type, day) sketch ONCE and derive its estimate in a
    # follow-up projection. (Catalyst already deduplicated the earlier
    # twice-named hll_sketch_agg — `Functions [1]` either way — so this
    # is a clarity/guarantee rewrite, not a measured 2x; the guarantee
    # is pinned by tests/test_layout_queries.py against a future
    # non-identical second build, which would NOT dedup.)
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id", F.lit(HLL_LGK)).alias("sk"),
    ).withColumn("est_day", F.hll_sketch_estimate("sk"))
    # Fix each per-day estimate to a bigint BEFORE the cross-day sum:
    # summing raw double estimates in partition-dependent order and
    # truncating could flip the last unit at an integer boundary; a sum
    # of bigints is order-independent, keeping the docstring's
    # stable-across-partitionings claim strict (round-7 fix).
    merged = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum(F.round("est_day").cast("bigint")).alias("sum_daily_estimates"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("bigint").alias(
            "est_merged"
        ),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return merged.join(exact, "event_type").select(
        "event_type",
        "n_days",
        "sum_daily_estimates",
        "est_merged",
        "exact_distinct",
        round_det(
            F.abs(F.col("est_merged") - F.col("exact_distinct")).cast("double")
            / F.col("exact_distinct"),
            6,
        ).alias("rel_error"),
    )
