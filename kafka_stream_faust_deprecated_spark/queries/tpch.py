"""TPC-H-style analytic suite over the fixture warehouse.

Nine classics (Q3/Q4/Q5/Q6/Q7/Q10/Q13/Q14/Q18) adapted to the fixture
schema (no partsupp table; lineitem lacks commitdate/receiptdate/
shipmode/shipinstruct — adaptations noted per query). These are the
multi-join, selective-filter shapes a warehouse engine lives on; each
one exercises a different physical-plan concern at 100 TB:

* Q3/Q10 — fact-to-fact join with selective dim filter + top-k
  (TakeOrderedAndProject, no global sort of the full join).
* Q4 — EXISTS as a left-semi join (never materializes the match side).
* Q5/Q7 — star joins across 5-6 tables; tiny dims (nation/region)
  broadcast, fact joins sort-merge co-partitioned; AQE re-plans the
  mid-size sides at runtime.
* Q6 — pure scan-side filter reduction (all predicates pushed to
  parquet; no shuffle at all before the single-row agg).
* Q13 — left join preserving empty groups + re-aggregation (the
  two-level distribution shape).
* Q14 — conditional aggregation over one join.
* Q18 — HAVING on a fact self-aggregation feeding a join.

The reference has no joins (SURVEY §2a "does NOT have"); this module is
driver-mandated extension surface exercising E3/E4/E7/E12 in
combination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_stream_faust_deprecated_spark.functions.rounding import round_det
from kafka_stream_faust_deprecated_spark.io import load_table
from kafka_stream_faust_deprecated_spark.registry import register

def _rev():
    """Revenue expression shared by most queries. A function, not a
    module constant: building a Column requires an active SparkContext
    in classic mode, and this module imports before any session exists."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register(
    "tpch_q3_shipping_priority",
    oracle="""
SELECT l.l_orderkey                                        AS l_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d')                 AS o_orderdate,
       (floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 10000.0 + 0.5) / 10000.0) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-01'
  AND l.l_shipdate  > TIMESTAMP '1998-06-01'
GROUP BY 1, 2
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    tags=("E3", "E12", "tpch"),
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 adapted (no o_shippriority column): top-10 unshipped orders of
    one market segment by open revenue. Ties broken by rounded revenue
    then order key so the limit is deterministic across engines."""
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(round_det(F.sum(_rev()), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "revenue",
        )
    )


@register(
    "tpch_q4_order_priority",
    oracle="""
SELECT o.o_orderpriority AS o_orderpriority,
       count(*)          AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY 1
""",
    tags=("E4", "E7", "tpch"),
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 adapted (no commit/receipt dates — "late" = shipped after the
    order date): order-priority histogram of one quarter's late orders.
    The EXISTS runs as a left-semi join: the lineitem side never
    materializes into the output, so the shuffle carries only the join
    key plus the compared date."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "tpch_q5_local_supplier_volume",
    oracle="""
SELECT n.n_name AS n_name,
       (floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 10000.0 + 0.5) / 10000.0) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey   = o.o_custkey
JOIN lineitem l ON l.l_orderkey  = o.o_orderkey
JOIN supplier s ON l.l_suppkey   = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY 1
""",
    tags=("E3", "E7", "tpch"),
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5: revenue by nation where customer and supplier share the
    nation, one region, one order year. nation/region broadcast
    (constant-size dims at any SF); the customer⋈orders⋈lineitem chain
    shuffles on its keys and AQE picks broadcast for the supplier side
    when the nation filter makes it small."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(
        load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(round_det(F.sum(_rev()), 4).alias("revenue"))
    )


@register(
    "tpch_q6_forecast_revenue",
    oracle="""
SELECT (floor((sum(l_extendedprice * l_discount)) * 10000.0 + 0.5) / 10000.0) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 24
""",
    tags=("E2", "E7", "tpch"),
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: pure filter-and-sum — every predicate pushes to the parquet
    scan (verify: PushedFilters on shipdate/discount/quantity) and the
    plan is scan → partial agg → single-row final agg, zero joins."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    ).agg(
        round_det(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
            "revenue"
        )
    )


@register(
    "tpch_q7_volume_shipping",
    oracle="""
SELECT n1.n_name                   AS supp_nation,
       n2.n_name                   AS cust_nation,
       year(l.l_shipdate)          AS l_year,
       (floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 10000.0 + 0.5) / 10000.0) AS revenue
FROM supplier s
JOIN lineitem l ON s.s_suppkey  = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey  = o.o_custkey
JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
""",
    tags=("E3", "E7", "tpch"),
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: bilateral trade volume between two nations by ship year.
    Both nation lookups broadcast; the OR-of-pairs predicate lands
    after them, and the fact chain shuffles once per join key."""
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    n1 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
        )
    )
    j = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
    ).agg(round_det(F.sum(_rev()), 4).alias("revenue"))


@register(
    "tpch_q10_returned_items",
    oracle="""
SELECT c.c_custkey     AS c_custkey,
       c.c_name        AS c_name,
       n.n_name        AS n_name,
       (floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 10000.0 + 0.5) / 10000.0) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey  = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-10-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
  AND l.l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    tags=("E3", "E12", "tpch"),
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: top-20 customers by revenue lost to returns in one quarter.
    Top-k goes through TakeOrderedAndProject (per-partition heap, no
    global sort); rounded-revenue + custkey ordering keeps the limit
    deterministic across engines."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(round_det(F.sum(_rev()), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q13_customer_distribution",
    oracle="""
WITH per_cust AS (
    SELECT c.c_custkey, count(o.o_orderkey) AS c_count
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY 1
)
SELECT c_count  AS c_count,
       count(*) AS custdist
FROM per_cust
GROUP BY 1
""",
    tags=("E3", "E7", "tpch"),
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13: order-count distribution over customers, INCLUDING the
    zero-order customers (the left join + count(col) null-skip is the
    point). Two aggregations; the second input is one row per customer,
    so the re-shuffle is tiny regardless of fact scale."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "tpch_q14_promo_revenue",
    oracle="""
SELECT (floor((100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
              / sum(l.l_extendedprice * (1 - l.l_discount))) * 10000.0 + 0.5) / 10000.0) AS promo_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
  AND l.l_shipdate <  TIMESTAMP '1997-10-01'
""",
    tags=("E3", "E7", "tpch"),
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 adapted (p_type is a single word here, so equality instead of
    LIKE 'PROMO%'): share of one month's revenue from promo parts.
    Conditional aggregate over one join; the month filter reaches the
    lineitem scan, so the join input is a sliver of the fact table."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = _rev()
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            round_det(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_pct")
        )
    )


@register(
    "tpch_q18_large_volume_customer",
    oracle="""
WITH big AS (
    SELECT l_orderkey, sum(l_quantity) AS total_qty
    FROM lineitem
    GROUP BY 1
    HAVING sum(l_quantity) > 300
)
SELECT c.c_name                            AS c_name,
       c.c_custkey                         AS c_custkey,
       o.o_orderkey                        AS o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       (floor((o.o_totalprice) * 100.0 + 0.5) / 100.0)            AS o_totalprice,
       (floor((b.total_qty) * 100.0 + 0.5) / 100.0)               AS total_qty
FROM big b
JOIN orders o   ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey  = c.c_custkey
""",
    tags=("E3", "E7", "tpch"),
)
def tpch_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: orders whose total line quantity exceeds 300 units, with
    their customers. The HAVING pre-aggregation shrinks the fact table
    to a key list BEFORE any join — the anti-pattern it avoids (join
    first, filter later) would shuffle the full lineitem⋈orders
    product."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            round_det(F.col("o_totalprice"), 2).alias("o_totalprice"),
            round_det(F.col("total_qty"), 2).alias("total_qty"),
        )
    )


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
WITH supply AS (
    SELECT l_partkey, l_suppkey,
           (floor((avg(l_extendedprice / l_quantity)) * 10000.0 + 0.5) / 10000.0) AS price
    FROM lineitem GROUP BY 1, 2
),
eu AS (
    SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
)
SELECT (floor((e.s_acctbal) * 100.0 + 0.5) / 100.0) AS s_acctbal,
       e.s_name              AS s_name,
       e.n_name              AS n_name,
       p.p_partkey           AS p_partkey,
       p.p_name              AS p_name,
       sp.price              AS price
FROM part p
JOIN supply sp ON sp.l_partkey = p.p_partkey
JOIN eu e      ON e.s_suppkey  = sp.l_suppkey
WHERE p.p_type = 'STANDARD' AND p.p_size <= 15
  AND sp.price = (
      SELECT min(sp2.price)
      FROM supply sp2 JOIN eu e2 ON e2.s_suppkey = sp2.l_suppkey
      WHERE sp2.l_partkey = p.p_partkey)
ORDER BY s_acctbal DESC, p_partkey, s_name
LIMIT 25
""",
    tags=("E3", "E12", "tpch"),
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2: cheapest EUROPE supplier per STANDARD part (adapted: no
    partsupp table, so unit cost = avg(l_extendedprice/l_quantity) per
    (part, supplier) observed in lineitem).

    The correlated ``= (SELECT min ...)`` is expressed as a window
    ``min() OVER (PARTITION BY p_partkey)`` over the already-joined,
    already-filtered supply rows, the standard decorrelation Catalyst
    itself would pick. Both broadcast dims prune lineitem BEFORE the
    per-(part, supplier) price aggregate (only STANDARD small parts
    from EUROPE suppliers pay the shuffle — the avg is per (part,
    supplier) so dim filters commute with it), and the one exchange is
    an explicit repartition on l_partkey alone: HashPartitioning(
    partkey) satisfies the (partkey, suppkey, dims...) grouping AND the
    min-window's partitioning, so the agg and the window both reuse it
    — ONE pruned shuffle total, where the round-4 plan shuffled the
    full supply table twice (agg + window). (Trade-off vs letting the
    agg keep its map-side combine: combine would shrink exchange bytes
    by the lineitems-per-(part, supplier) factor but re-shuffle for the
    window; post-dim-prune pairs here are near-unique, so the single
    raw exchange wins — measured 0.69 s vs 1.13 s at sf0.1.)"""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15)
    )
    pruned = (
        li.select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eu), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    joined = (
        pruned.repartition("p_partkey")
        .groupBy("p_partkey", "l_suppkey", "s_name", "s_acctbal", "n_name", "p_name")
        .agg(
            round_det(F.avg(F.col("l_extendedprice") / F.col("l_quantity")), 4).alias("price")
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        joined.withColumn("min_price", F.min("price").over(w))
        .where(F.col("price") == F.col("min_price"))
        .select(
            round_det(F.col("s_acctbal"), 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            "price",
        )
        .orderBy(F.desc("s_acctbal"), "p_partkey", "s_name")
        .limit(25)
    )


@register(
    "tpch_q8_market_share",
    oracle="""
SELECT year(o.o_orderdate)::INT AS o_year,
       (floor((sum(CASE WHEN sn.n_name = 'NATION_3'
                      THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount))) * 10000.0 + 0.5) / 10000.0) AS mkt_share
FROM lineitem l
JOIN part p     ON p.p_partkey  = l.l_partkey
JOIN supplier s ON s.s_suppkey  = l.l_suppkey
JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey  = o.o_custkey
JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
JOIN region r   ON r.r_regionkey = cn.n_regionkey
WHERE p.p_type = 'ECONOMY' AND r.r_name = 'AMERICA'
  AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY 1 ORDER BY 1
""",
    tags=("E3", "E7", "tpch"),
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8: NATION_3 suppliers' share of the AMERICA ECONOMY-part market
    by order year. Seven-table star: every dim (part-filtered,
    supplier, both nation roles, customer, region) broadcasts; the two
    facts join on l_orderkey; the conditional-sum ratio is one partial
    agg. Same-table double role (nation as supplier-nation AND
    customer-nation) is done with two aliased broadcasts, not a
    self-join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("sn_name")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rkey")
    )
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").between("1996-01-01", "1997-12-31")
    )
    cust = load_table(spark, sf_dir, "customer")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("cn_rkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            round_det(
                F.sum(F.when(F.col("sn_name") == "NATION_3", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "tpch_q9_product_profit",
    oracle="""
SELECT sn.n_name            AS nation,
       year(o.o_orderdate)::INT AS o_year,
       (floor((sum(l.l_extendedprice * (1 - l.l_discount)
                 - 0.6 * p.p_retailprice * l.l_quantity)) * 10000.0 + 0.5) / 10000.0) AS profit
FROM lineitem l
JOIN part p     ON p.p_partkey    = l.l_partkey
JOIN supplier s ON s.s_suppkey    = l.l_suppkey
JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
JOIN orders o   ON o.o_orderkey   = l.l_orderkey
WHERE p.p_name LIKE '%widget%'
GROUP BY 1, 2 ORDER BY 1, 2 DESC
""",
    tags=("E3", "E7", "tpch"),
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9: profit on widget parts by supplier nation and year (adapted:
    no partsupp, so unit supply cost = 0.6 × p_retailprice). The LIKE
    filter on the broadcast part dim prunes lineitem rows at the join,
    before the orders join — dim-filter-first ordering that matters when
    lineitem is the 100 TB side."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(round_det(F.sum(profit), 4).alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "tpch_q11_important_parts",
    oracle="""
WITH val AS (
    SELECT l.l_partkey AS p_key,
           sum(l.l_extendedprice * (1 - l.l_discount)) AS value
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE s.s_nationkey < 3
    GROUP BY 1
)
SELECT p_key              AS l_partkey,
       (floor((value) * 10000.0 + 0.5) / 10000.0)    AS value
FROM val
WHERE value > (SELECT 0.001 * sum(value) FROM val)
ORDER BY value DESC, l_partkey
""",
    tags=("E3", "E7", "tpch"),
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11: parts whose traded value through NATION_{0,1,2} suppliers
    exceeds 0.1% of that channel's total (adapted: no partsupp, value =
    discounted revenue through those suppliers).

    The group-vs-global comparison is ONE window over the per-part agg
    (r15, guide §1.2/§2.4): the previous aggregate-scalar-then-rejoin
    shape re-expanded ``val`` — Catalyst does not CSE across DataFrame
    branches, so lineitem was scanned+joined+aggregated TWICE and the
    scalar came back through a whitelisted BroadcastNestedLoopJoin.
    ``sum() OVER ()`` on the part-bounded agg output computes the same
    total in the same relation: one lineitem pass, no BNLJ (A/B at
    sf0.1: 0.53 -> 0.38 s, identical output).

    Skew bound: ``Window.partitionBy()`` has no key, so the window sends
    the whole per-part aggregate, up to one row per part (about 200k×SF
    rows), through one task, and AQE cannot split it. That is under
    1 MB at the fixture scales (sf0.1 and below) but grows linearly
    with SF: at 100 TB it is a single-task straggler. The fix
    (ROADMAP #5) is a two-level reduction of ``tot`` to a 1-row
    broadcast over the reused aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").where(F.col("s_nationkey") < 3)
    val = (
        li.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("value")
        )
    )
    from pyspark.sql.window import Window

    return (
        val.withColumn("tot", F.sum("value").over(Window.partitionBy()))
        .where(F.col("value") > 0.001 * F.col("tot"))
        .select("l_partkey", round_det(F.col("value"), 4).alias("value"))
        .orderBy(F.desc("value"), "l_partkey")
    )


@register(
    "tpch_q12_late_shipment_priority",
    oracle="""
SELECT l.l_linestatus AS l_linestatus,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 90
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY 1 ORDER BY 1
""",
    tags=("E3", "E7", "tpch"),
)
def tpch_q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12: priority mix of LATE shipments by line status (adapted: no
    shipmode/receiptdate, so "late" = shipped >90 days after the order
    date and the grouping key is l_linestatus). The date-vs-date theta
    predicate rides on the equi-join — it stays a hash join with a
    post-join filter, never a BNLJ.

    Round-4 driver hardening: the only driver-red row in r4 was this
    query's hash, caused by the oracle's bare ``sum(CASE…)`` returning
    DuckDB HUGEINT (int128) — the one column type in the whole sampled
    surface that Arrow cannot represent, so any Arrow/pandas fetch path
    widens it to DOUBLE and 2415 != 2415.0 under a value hash (local
    fetchall() returns Python ints, which is why driver_sim could never
    reproduce it). The oracle now casts to BIGINT, and both engines
    compare calendar DATEs (+90 via date arithmetic) so the predicate
    is also immune to session-timezone interval semantics; a pytest
    guard (tests/test_oracle_types.py) keeps every oracle HUGEINT-free."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(
            F.col("l_shipdate").cast("date")
            > F.date_add(F.col("o_orderdate").cast("date"), 90)
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "tpch_q15_top_supplier",
    oracle="""
WITH rev AS (
    SELECT l_suppkey, (floor((sum(l_extendedprice * (1 - l_discount))) * 10000.0 + 0.5) / 10000.0) AS total_rev
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
    GROUP BY 1
)
SELECT s.s_suppkey  AS s_suppkey,
       s.s_name     AS s_name,
       r.total_rev  AS total_rev
FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
ORDER BY s_suppkey
""",
    tags=("E3", "E7", "tpch"),
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15: supplier(s) with the maximum Q1-1996 revenue. Rounded to
    4dp on BOTH sides of the equality so the two engines agree on ties.

    The revenue-equals-max correlated view is ONE aggregation + a
    global max WINDOW over it (r15, guide §1.2/§2.4): the previous
    broadcast-scalar formulation claimed to reuse ``rev``, but Catalyst
    re-expands shared DataFrame subtrees per branch — the executed plan
    scanned and aggregated lineitem TWICE (one chain per ``rev``
    reference, zero ReusedExchange). ``max() OVER ()`` computes the
    scalar inside the same supplier-bounded agg output: one lineitem
    pass, 4 -> 2 pre-sort exchanges (A/B at sf0.1: 0.42 -> 0.27 s,
    identical output). The single-partition window hop is
    supplier-catalog-bounded — the whitelisted class. The equality
    compares the ROUNDED values on both sides, exactly as before."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy("l_suppkey").agg(
        round_det(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "total_rev"
        )
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        rev.withColumn("mx", F.max("total_rev").over(Window.partitionBy()))
        .where(F.col("total_rev") == F.col("mx"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q16_supplier_part_counts",
    oracle="""
SELECT p.p_brand AS p_brand,
       p.p_type  AS p_type,
       p.p_size  AS p_size,
       count(DISTINCT pr.l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pr
JOIN part p ON p.p_partkey = pr.l_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND pr.l_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
    tags=("E3", "E4", "E7", "tpch"),
)
def tpch_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16: how many qualified suppliers can supply each (brand, type,
    size) bucket (adapted: supplier-part pairs observed in lineitem
    stand in for partsupp; "complaint" suppliers = negative account
    balance, excluded by ANTI join — the NOT IN never materializes a
    null-prone IN-list). The oracle's ``DISTINCT (partkey, suppkey)``
    pre-pass is REDUNDANT under a per-bucket count-distinct-suppkey
    (a supplier counts once per bucket regardless of how many lineitems
    or parts repeat it), so the plan is broadcast-dim filters straight
    on the scan followed by ONE count-distinct exchange with map-side
    partial dedup — the round-4 plan paid a full-lineitem
    distinct-pairs shuffle first."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad = load_table(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0)
    return (
        li.select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "tpch_q17_small_quantity_revenue",
    oracle="""
WITH pa AS (
    SELECT l_partkey, 0.2 * avg(l_quantity) AS q_thresh
    FROM lineitem GROUP BY 1
)
SELECT (floor((sum(l.l_extendedprice) / 7.0) * 10000.0 + 0.5) / 10000.0) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN pa    ON pa.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#13' AND l.l_quantity < pa.q_thresh
""",
    tags=("E3", "E7", "tpch"),
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17: revenue lost if tiny orders (below 20% of the part's mean
    quantity) were dropped, for one brand. Only Brand#13 parts survive
    the broadcast dim filter, so the per-part stats are computed over
    the pruned rows, not all 100 TB of lineitem.

    The correlated per-part AVG decorrelates into a WINDOW over the
    pruned join output (r15, guide §2.4 — the classic windowed Q17):
    the previous groupBy + rejoin shape re-expanded ``pruned``, so the
    brand-pruned lineitem scan+join ran TWICE (Catalyst does not CSE
    across branches). ``avg() OVER (PARTITION BY l_partkey)`` computes
    the threshold in the same pass: one scan, one l_partkey exchange
    (A/B at sf0.1: 0.43 -> 0.30 s, identical output). The exchange now
    carries brand-pruned raw rows instead of combined per-part partials
    — strictly cheaper than the second full scan it replaces, since the
    brand filter is what makes both small."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#13")
    pruned = li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
    w = Window.partitionBy("l_partkey")
    return (
        pruned.withColumn("q_thresh", 0.2 * F.avg("l_quantity").over(w))
        .where(F.col("l_quantity") < F.col("q_thresh"))
        .agg(round_det(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


@register(
    "tpch_q19_disjunctive_revenue",
    oracle="""
SELECT (floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 10000.0 + 0.5) / 10000.0) AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
""",
    tags=("E2", "E3", "tpch"),
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19: revenue under an OR-of-ANDs predicate spanning both join
    sides. The disjunction can't be pushed below the join whole, but
    its single-side residues CAN: Catalyst derives ``p_size BETWEEN 1
    AND 15``-ish envelopes for the part scan and ``l_quantity BETWEEN 1
    AND 30`` for the lineitem scan from the OR (constraint
    propagation), so both parquet scans still prune before the
    broadcast join evaluates the exact disjunction."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    disj = (
        ((b == "Brand#12") & s.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#23") & s.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#20") & s.between(1, 15) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .where(disj)
        .agg(
            round_det(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
        )
    )


@register(
    "tpch_q20_excess_supply",
    oracle="""
WITH sq AS (
    SELECT l.l_suppkey, sum(l.l_quantity) AS qty
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_name LIKE 'red%'
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1
)
SELECT s.s_name AS s_name, n.n_name AS n_name
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE s.s_suppkey IN
      (SELECT l_suppkey FROM sq WHERE qty > (SELECT 0.5 * avg(qty) FROM sq))
ORDER BY s_name
""",
    tags=("E3", "E4", "E7", "tpch"),
)
def tpch_q20_excess_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20: suppliers who moved an above-half-average volume of red
    parts in 1996 (adapted: shipped quantity stands in for partsupp
    availqty). Chain: broadcast-dim prune → per-supplier agg → global
    half-average threshold → LEFT SEMI into the supplier dim. The semi
    join keeps supplier rows unique without a distinct.

    The threshold is a global avg WINDOW over the per-supplier agg
    (r15, guide §1.2/§2.4): the previous broadcast-scalar formulation
    re-expanded ``sq``, so the red-pruned lineitem scan+agg chain ran
    TWICE and the scalar attached through a whitelisted
    BroadcastNestedLoopJoin. ``avg() OVER ()`` computes it inside the
    same supplier-bounded agg output: one lineitem pass, no BNLJ (A/B
    at sf0.1: 0.48 -> 0.39 s, identical output). Single-partition hop
    is supplier-catalog-bounded — the whitelisted class."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    red = load_table(spark, sf_dir, "part").where(F.col("p_name").like("red%"))
    sq = (
        li.join(F.broadcast(red), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    hot = sq.withColumn("t", 0.5 * F.avg("qty").over(Window.partitionBy())).where(
        F.col("qty") > F.col("t")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        supp.join(hot, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@register(
    "tpch_q21_waiting_supplier",
    oracle="""
WITH late AS (
    SELECT DISTINCT l.l_orderkey, l.l_suppkey
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
),
allsup AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
SELECT s.s_name AS s_name, count(*) AS numwait
FROM late t
JOIN supplier s ON s.s_suppkey = t.l_suppkey
WHERE EXISTS (SELECT 1 FROM allsup a
              WHERE a.l_orderkey = t.l_orderkey AND a.l_suppkey <> t.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l2
                  WHERE l2.l_orderkey = t.l_orderkey
                    AND l2.l_suppkey <> t.l_suppkey)
GROUP BY 1 ORDER BY numwait DESC, s_name
LIMIT 20
""",
    tags=("E3", "E4", "E7", "tpch"),
)
def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21: suppliers who were the SOLE late shipper on a multi-supplier
    finished order (adapted: late = shipped >60 days after order date;
    no receipt/commit dates in the fixture). The EXISTS / NOT-EXISTS
    pair decorrelates into a per-order aggregation over the distinct
    (order, supplier) late/all sets: an order qualifies a supplier iff
    it has >1 distinct suppliers overall and exactly 1 late one — one
    shuffle on l_orderkey replaces two correlated self-joins of
    lineitem (the classic Q21 plan killer at 100 TB).

    Single-pass shape (r15, guide §2.4): lineitem joins F-orders ONCE,
    and ONE l_orderkey-keyed aggregate computes both per-order sets as
    map-side-combined ``collect_set``s — the distinct suppliers and the
    distinct LATE suppliers (``when`` is null for on-time rows and
    collect_set drops nulls, so a supplier lands in late_set iff ANY of
    its rows shipped late — exactly the r14 per-(order, supplier)
    max(late) dedup, which this replaces). The r14 shape stacked
    groupBy(orderkey, suppkey) on groupBy(orderkey); those hash to
    DIFFERENT distributions, so the plan paid TWO sequential exchanges.
    The fused aggregate pays ONE, with per-order partial sets bounded
    by suppliers-per-order (~7), so the exchange bytes match the old
    combiner-deduped pair rows (A/B at sf0.1: 0.780 -> 0.754 s,
    identical output; 3 -> 2 exchanges — the removed barrier is the
    at-scale win, the local delta is one stage latency). This remains
    far cheaper than the round-4 plan that re-scanned and re-shuffled
    lineitem for the all-suppliers set and semi-joined the sides back
    together."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    # NOT repartition(orderkey)-then-agg: the aggregate's own exchange
    # keeps map-side partial aggregation — it carries combiner-merged
    # per-order sets, far smaller than one raw-row shuffle of the join
    # output (r14 measured 0.78 s vs 1.07 s at sf0.1 for the raw-row
    # variant; the byte ratio only grows at 100 TB).
    late_supp = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        F.col("l_suppkey"),
    )
    sole_late = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        # Skew bound: per-order collect_set state <= its suppliers (<= 7 in TPC-H).
        .groupBy("l_orderkey")
        .agg(
            F.size(F.collect_set("l_suppkey")).alias("n_supp"),
            F.collect_set(late_supp).alias("late_set"),
        )
        .where((F.col("n_supp") > 1) & (F.size("late_set") == 1))
        .select(F.col("late_set")[0].alias("supp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        sole_late.join(F.broadcast(supp), F.col("s_suppkey") == F.col("supp"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@register(
    "tpch_q22_global_sales_opportunity",
    oracle="""
SELECT c.c_nationkey AS cntry,
       count(*)      AS numcust,
       (floor((sum(c.c_acctbal)) * 10000.0 + 0.5) / 10000.0) AS totacctbal
FROM customer c
WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND c.c_nationkey < 10
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-07-01')
GROUP BY 1 ORDER BY 1
""",
    tags=("E4", "E7", "tpch"),
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22: rich-but-idle customers by country (adapted: nationkey <10
    stands in for the phone-prefix country codes, and "idle" = no order
    since 2000-07 — every fixture customer has SOME order, so the
    original no-orders-ever predicate would be vacuously empty).
    Global positive-balance average = broadcast scalar; idle customers
    = LEFT ANTI against the orders fact pre-filtered on date and
    projected to its key column only (column pruning means the anti
    join builds on o_custkey alone, not full order rows)."""
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_nationkey") < 10)
    avg_bal = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("ab"))
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= "2000-07-01")
        .select("o_custkey")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            round_det(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
        .orderBy("cntry")
    )
