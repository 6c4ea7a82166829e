"""Relational operator coverage over the TPC-H-ish tables.

Exercises, on generic relational inputs, the operator families the reference
delegates to PostgreSQL (SURVEY.md §2.3/2.4/2.6): multi-way star equi-joins
(J1/J4), anti-joins (J2/J3), semi-joins (J9), left joins with null-producing
sides (J5), conditional and multi-key aggregation, HAVING, stddev, top-k.

Scale design: dimension sides (region/nation/part/customer-at-ratio) get
explicit ``broadcast`` hints so the lineitem-side scan never shuffles for a
join; aggregates sum exact decimals (see functions.agg) so partial aggregation
order can't change results; top-k uses orderBy+limit which Spark executes as
TakeOrderedAndProject (no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_spotify.functions.agg import (
    SQL_DSUM,
    SQL_MONEY,
    lmoney,
    lscale,
    lsum,
    lsum_scaled,
)
from spark_spotify.sources.tables import dim_broadcast, load_table

_SQL_REVENUE = SQL_MONEY.format(p="l_extendedprice", d="l_discount")

Q1_CUTOFF = "2000-12-01"

Q3_SEGMENT = "BUILDING"
Q3_CUT = "1998-01-01"
Q3_TOP = 10

Q18_MIN_QTY = 150
Q18_TOP = 100

Q4_START = "1996-01-01"
Q4_END = "1997-01-01"
Q4_LATE_DAYS = 90

Q15_START = "1996-01-01"
Q15_END = "1996-04-01"

Q2_SIZE = 15  # Q2-shape part subset
Q2_TOP = 100

# Q19-shape disjunctive clauses: (brand, max size, qty lo, qty hi)
Q19_CLAUSES = [
    ("Brand#3", 15, 1, 11),
    ("Brand#13", 25, 10, 20),
    ("Brand#23", 35, 20, 30),
]

Q21_TOP = 50

Q22_CUTOFF = "1999-01-01"  # "idle" = no orders since this date

Q10_START = "1997-01-01"  # Q10-shape returned-item window
Q10_END = "1998-01-01"
Q10_TOP = 20

Q14_YEAR = 1997  # Q14-shape promo-share year

Q8_REGION = "EUROPE"  # Q8-shape market + target supplier nation
Q8_NATION = "NATION_7"

Q17_BRAND = "Brand#3"  # Q17-shape small-order part subset
Q17_TYPE = "PROMO"

Q20_TYPE = "ECONOMY"  # Q20-shape surplus window + market
Q20_START = "1997-01-01"
Q20_END = "1998-01-01"
Q20_REGION = "EUROPE"

Q9_TYPE = "STANDARD"  # Q9-shape product-type profit subset

Q12_START = "1997-01-01"  # Q12-shape ship window
Q12_END = "1998-01-01"
Q12_HIGH = ("1-URGENT", "2-HIGH")

Q16_EXCL_BRAND = "Brand#5"  # Q16-shape part pushbacks
Q16_EXCL_TYPE = "PROMO"
Q16_SIZES = (3, 7, 9, 14, 23, 36, 45, 49)


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: two-key groupBy, 8 exact aggregates, deterministic
    averages (sum-of-decimal / count).  Reference analogs: A1/A3/A7/A8."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= Q1_CUTOFF
    )
    # exact scale-4 (disc_price) / scale-6 (charge) integer money products —
    # same rationals the DECIMAL formulation produces, all-long per row
    disc_price = lmoney(F.col("l_extendedprice"), F.col("l_discount"))
    charge = disc_price * (F.lit(100) + lscale(F.col("l_tax"), 2))
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        lsum(F.col("l_quantity")).alias("sum_qty"),
        lsum(F.col("l_extendedprice")).alias("sum_base_price"),
        lsum_scaled(disc_price, 4).alias("sum_disc_price"),
        lsum_scaled(charge, 6).alias("sum_charge"),
        lsum(F.col("l_discount")).alias("_sd"),
        F.count(F.lit(1)).alias("count_order"),
    )
    n = F.col("count_order")
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        F.round(F.col("sum_qty") / n, 4).alias("avg_qty"),
        F.round(F.col("sum_base_price") / n, 4).alias("avg_price"),
        F.round(F.col("_sd") / n, 4).alias("avg_disc"),
        "count_order",
    )


def q_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region/nation revenue rollup through the full star (J1/J4): lineitem ⋈
    orders ⋈ customer ⋈ nation ⋈ region, dims broadcast.

    Lineitem is pre-aggregated to ORDER grain before any join — the 100 TB
    shape: the fact table shrinks ~4× before it touches the join graph, the
    order-grain rows make n_orders a plain COUNT (one Expand leg instead of
    two for a double COUNT DISTINCT), and the orderkey shuffle introduced by
    the pre-aggregation is exactly the partitioning the orders join needs,
    so it costs nothing extra.  Decimal partial sums are associative, so
    revenue is bit-identical to the unaggregated formulation."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # per-order partial stays a scale-4 long through the join graph (an
    # order's handful of lineitems can never overflow it); the final
    # region/nation combine re-splits, so unbounded group volumes stay exact
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(lmoney(F.col("l_extendedprice"), F.col("l_discount"))).alias(
            "order_rev_s4"
        )
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey, "inner")
        .join(c, o.o_custkey == c.c_custkey, "inner")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "inner")
        .groupBy("r_name", "n_name")
        .agg(
            lsum_scaled(F.col("order_rev_s4"), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


Q5_REGION = "ASIA"
Q5_START = "1996-01-01"
Q5_END = "1998-01-01"


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the 6-table snowflake: revenue from lineitems whose
    supplier sits in the SAME nation as the ordering customer, per nation
    within one region and a 2-year order-date window.  The only query that
    exercises the supplier dimension and a join predicate spanning two
    dims (c_nationkey = s_nationkey).

    Scale: the date filter pushes into the orders scan; supplier/nation/
    region broadcast; the co-nationality predicate rides the supplier
    broadcast join, so the fact side shuffles only for the orderkey join.
    Decimal partial sums keep revenue engine-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q5_START) & (F.col("o_orderdate") < Q5_END)
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .join(c, o.o_custkey == c.c_custkey, "inner")
        .join(
            # supplier grows with SF (10k rows/SF) — hint only when the
            # footer count proves it fits; else AQE decides at runtime
            dim_broadcast(s, sf_dir, "supplier", 2_000_000),
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
            "inner",
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "inner")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "inner")
        .filter(F.col("r_name") == Q5_REGION)
        .groupBy("n_name")
        .agg(
            lsum_scaled(
                lmoney(F.col("l_extendedprice"), F.col("l_discount")), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
            F.countDistinct("s_suppkey").alias("n_suppliers"),
        )
    )


Q17_FRACTION = 0.5


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated-AVG decorrelation: revenue from
    lineitems whose quantity is below half their PART's average quantity.
    The reference dialect would write a correlated scalar subquery
    (``WHERE l_quantity < (SELECT 0.5*avg(l_quantity) ... same part)``);
    Spark executes it as the decorrelated form — one per-part aggregate
    joined back — which is also the only shape that scales: one pass for
    the thresholds, one for the probe, no per-row re-aggregation.

    Scale: both sides shuffle on l_partkey once (Exchange reuse makes the
    threshold join ride the same partitioning); per-part thresholds are
    part-cardinality-sized.  Exact decimal math throughout."""
    li = load_table(spark, sf_dir, "lineitem")
    # threshold as (exact decimal sum -> double) / count * fraction: one
    # deterministic IEEE op sequence both engines reproduce (a native
    # decimal AVG would carry engine-specific result scales)
    thresholds = li.groupBy("l_partkey").agg(
        (
            F.lit(Q17_FRACTION)
            * (lsum(F.col("l_quantity")) / F.count(F.lit(1)))
        ).alias("qty_cut")
    )
    probe = li.join(thresholds, "l_partkey").filter(
        F.col("l_quantity") < F.col("qty_cut")
    )
    return probe.agg(
        F.count(F.lit(1)).alias("n_small_lineitems"),
        F.countDistinct("l_partkey").alias("n_parts"),
        lsum(F.col("l_extendedprice")).alias("small_qty_revenue"),
    )


URGENT = "1-URGENT"


def q_customers_no_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (J2/J3, NOT IN/NOT EXISTS rewrite): customers with no
    1-URGENT order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == URGENT).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return c.join(urgent, "c_custkey", "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )


BIG_ORDER = 400_000.0


def q_customers_big_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (J9/EXISTS): customers with at least one order above the
    threshold."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > BIG_ORDER).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return c.join(big, "c_custkey", "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


def q_segment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT JOIN with null-producing side (J5, artist_gender.py:21-24 shape):
    customers kept even with zero orders; null-aware conditional counts."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    j = c.join(o, c.c_custkey == o.o_custkey, "left")
    return j.groupBy("c_mktsegment").agg(
        F.countDistinct("c_custkey").alias("n_customers"),
        F.count("o_orderkey").alias("n_orders"),
        F.countDistinct(
            F.when(F.col("o_orderkey").isNull(), F.col("c_custkey"))
        ).alias("customers_without_orders"),
        lsum(F.col("o_totalprice")).alias("total_spend"),
    )


def q_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment stats incl. stddev (A5) and HAVING (A10).

    Stddev is computed from exact decimal sums (sqrt((Σx² − (Σx)²/n)/(n−1)))
    rather than the engine's streaming stddev so both engines produce the same
    64-bit double regardless of accumulation order."""
    c = load_table(spark, sf_dir, "customer")
    xi = lscale(F.col("c_acctbal"), 2)  # exact signed cents
    g = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        lsum(F.col("c_acctbal"), 2).alias("_s1"),
        # cents^2 is an exact scale-4 integer, so the sum of squares stays
        # on the primitive-long path too
        lsum_scaled(xi * xi, 4).alias("_s2"),
        F.min("c_acctbal").alias("min_acctbal"),
        F.max("c_acctbal").alias("max_acctbal"),
    )
    n = F.col("n_customers")
    s1 = F.col("_s1")
    s2 = F.col("_s2")
    return (
        g.filter(n >= 10)
        .select(
            "c_mktsegment",
            "n_customers",
            F.round(s1 / n, 4).alias("avg_acctbal"),
            F.round(F.sqrt((s2 - s1 * s1 / n) / (n - 1)), 4).alias("std_acctbal"),
            "min_acctbal",
            "max_acctbal",
        )
    )


TOPK_PARTS = 15


def q_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by revenue with total-order tie-break (O1/O3).  part is broadcast;
    Spark executes the limit as TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        # part grows with SF (200k rows/SF, wide strings) — gated hint
        li.join(
            dim_broadcast(p, sf_dir, "part", 2_000_000),
            li.l_partkey == p.p_partkey,
            "inner",
        )
        .groupBy("p_partkey", "p_name", "p_brand")
        .agg(
            lsum_scaled(
                lmoney(F.col("l_extendedprice"), F.col("l_discount")), 4
            ).alias("revenue"),
            lsum(F.col("l_quantity")).alias("total_qty"),
        )
        .orderBy(F.desc("revenue"), F.asc("p_partkey"))
        .limit(TOPK_PARTS)
    )


HIGH_BAL = 5000.0


def q_customer_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra over customer key sets (SURVEY.md §2.7 — the reference
    has no UNION/INTERSECT/EXCEPT; this adds the class): high-balance
    customers vs customers with orders, bucketed by INTERSECT / EXCEPT both
    ways / UNION.  Key-projected inputs keep each set op a narrow
    hash-dedup shuffle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    high = c.filter(F.col("c_acctbal") > HIGH_BAL).select(
        F.col("c_custkey").alias("k")
    )
    ordered = o.select(F.col("o_custkey").alias("k")).distinct()

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("bucket"),
            F.count(F.lit(1)).alias("n_customers"),
        )

    return (
        one("high_and_ordered", high.intersect(ordered))
        .unionByName(one("high_only", high.exceptAll(ordered)))
        .unionByName(one("ordered_only", ordered.exceptAll(high)))
        .unionByName(one("either", high.union(ordered).distinct()))
    )


VALUE_TIERS = [
    ("t1_low", 0.0, 20.0),
    ("t2_mid", 20.0, 50.0),
    ("t3_high", 50.0, 100.0),
    ("t4_whale", 100.0, 1e9),
]


def q_value_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join (beyond the reference — SURVEY.md §2.3 notes it has
    none): each event banded into a value tier via ``lo <= value < hi``.

    The tier table is a handful of rows, so the broadcast hint turns what
    would be a cartesian nested-loop into a BroadcastNestedLoopJoin — per-row
    work is a couple of comparisons against an in-memory table, no shuffle of
    the fact side at any scale.  (With a monotonic tier table this could also
    be a CASE expression; kept as a join because the tier list is data, not
    code, in a real pipeline.)"""
    ev = load_table(spark, sf_dir, "events")
    # literal LocalRelation (not createDataFrame) so the tier table never
    # takes the Python-RDD conversion path — it folds straight into the plan
    tiers = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tier"),
                        F.lit(lo).alias("lo"),
                        F.lit(hi).alias("hi"),
                    )
                    for t, lo, hi in VALUE_TIERS
                ]
            )
        ).alias("t")
    ).select("t.*")
    j = ev.join(
        F.broadcast(tiers),
        (ev.value >= tiers.lo) & (ev.value < tiers.hi),
        "inner",
    )
    return j.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        lsum(F.col("value")).alias("total_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def q_click_purchase_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (the one outer-join shape the reference never uses —
    SURVEY.md §2.3 stops at LEFT): per-user click activity vs purchase
    activity, keeping users present on either side only.

    Both sides are pre-aggregated to one row per user before the join, so
    the full-outer shuffle carries user-level rows, not events; both sides
    arrive hash-partitioned on user_id from their own aggregation, so AQE
    reuses the partitioning and the join adds no extra exchange."""
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    buys = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            lsum(F.col("value")).alias("purchase_value"),
        )
    )
    presence = (
        F.when(
            F.col("n_clicks").isNotNull()
            & F.col("n_purchases").isNotNull(),
            "both",
        )
        .when(F.col("n_clicks").isNotNull(), "click_only")
        .otherwise("purchase_only")
    )
    return clicks.join(buys, "user_id", "full_outer").select(
        "user_id",
        presence.alias("presence"),
        F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        F.coalesce("purchase_value", F.lit(0.0)).alias("purchase_value"),
    )


_TIER_VALUES_SQL = ", ".join(
    f"('{t}', {lo}, {hi})" for t, lo, hi in VALUE_TIERS
)


ORACLE = {
    "rel_click_purchase_full": f"""
WITH c AS (
  SELECT user_id, COUNT(*) AS n_clicks
  FROM events WHERE event_type = 'click' GROUP BY user_id
),
p AS (
  SELECT user_id, COUNT(*) AS n_purchases,
         {SQL_DSUM.format(x='value')} AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT COALESCE(c.user_id, p.user_id) AS user_id,
       CASE WHEN c.user_id IS NOT NULL AND p.user_id IS NOT NULL THEN 'both'
            WHEN c.user_id IS NOT NULL THEN 'click_only'
            ELSE 'purchase_only' END AS presence,
       COALESCE(n_clicks, 0) AS n_clicks,
       COALESCE(n_purchases, 0) AS n_purchases,
       COALESCE(purchase_value, 0.0) AS purchase_value
FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
""",
    "rel_value_range_join": f"""
WITH tiers(tier, lo, hi) AS (VALUES {_TIER_VALUES_SQL})
SELECT t.tier,
       COUNT(*) AS n_events,
       COUNT(DISTINCT e.user_id) AS n_users,
       CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
       MIN(e.value) AS min_value,
       MAX(e.value) AS max_value
FROM events e JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
GROUP BY t.tier
""",
    "rel_customer_setops": f"""
WITH high AS (
  SELECT c_custkey AS k FROM customer WHERE c_acctbal > {HIGH_BAL}
), ordered AS (
  SELECT DISTINCT o_custkey AS k FROM orders
)
SELECT 'high_and_ordered' AS bucket, COUNT(*) AS n_customers
FROM (SELECT k FROM high INTERSECT SELECT k FROM ordered)
UNION ALL
SELECT 'high_only', COUNT(*)
FROM (SELECT k FROM high EXCEPT SELECT k FROM ordered)
UNION ALL
SELECT 'ordered_only', COUNT(*)
FROM (SELECT k FROM ordered EXCEPT SELECT k FROM high)
UNION ALL
SELECT 'either', COUNT(*)
FROM (SELECT k FROM high UNION SELECT k FROM ordered)
""",
    "rel_pricing_summary": f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
  CAST(SUM({_SQL_REVENUE}) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST({_SQL_REVENUE} *
       (CAST(1 AS DECIMAL(18,4)) + CAST(l_tax AS DECIMAL(18,4))) AS DECIMAL(18,6)))
     AS DOUBLE) AS sum_charge,
  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
  round(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
""",
    "rel_nation_trade_flows": f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS ship_year,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       CAST(SUM({_SQL_REVENUE}) AS DOUBLE) AS volume
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY supp_nation, cust_nation, ship_year
""",
    "rel_late_shippers": f"""
SELECT o.o_orderpriority, COUNT(*) AS n_late_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '{Q4_START} 00:00:00'
  AND o.o_orderdate < TIMESTAMP '{Q4_END} 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate
                                   + INTERVAL {Q4_LATE_DAYS} DAY)
GROUP BY o.o_orderpriority
""",
    "rel_top_supplier_share": f"""
WITH r AS (
  SELECT l_suppkey, CAST(SUM({_SQL_REVENUE}) AS DOUBLE) AS revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q15_START} 00:00:00'
    AND l_shipdate < TIMESTAMP '{Q15_END} 00:00:00'
  GROUP BY l_suppkey
)
SELECT l_suppkey, revenue FROM r
WHERE revenue = (SELECT MAX(revenue) FROM r)
""",
    "rel_ship_priority": f"""
SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
       CAST(SUM({_SQL_REVENUE}) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = '{Q3_SEGMENT}'
  AND o.o_orderdate < TIMESTAMP '{Q3_CUT} 00:00:00'
  AND l.l_shipdate > TIMESTAMP '{Q3_CUT} 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderdate ASC, l.l_orderkey ASC
LIMIT {Q3_TOP}
""",
    "rel_big_order_customers": f"""
WITH po AS (
  SELECT l_orderkey,
         {SQL_DSUM.format(x='l_quantity')} AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {SQL_DSUM.format(x='l_quantity')} > {Q18_MIN_QTY}
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       o.o_totalprice, po.total_qty
FROM po
JOIN orders o ON po.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT {Q18_TOP}
""",
    "rel_star_revenue": f"""
SELECT r.r_name, n.n_name,
  CAST(SUM({_SQL_REVENUE}) AS DOUBLE) AS revenue,
  COUNT(DISTINCT o.o_orderkey) AS n_orders,
  COUNT(DISTINCT c.c_custkey) AS n_customers
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""",
    "rel_local_supplier_volume": f"""
SELECT n.n_name,
  CAST(SUM({_SQL_REVENUE}) AS DOUBLE) AS revenue,
  COUNT(*) AS n_lineitems,
  COUNT(DISTINCT s.s_suppkey) AS n_suppliers
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
                AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{Q5_REGION}'
  AND o.o_orderdate >= DATE '{Q5_START}'
  AND o.o_orderdate < DATE '{Q5_END}'
GROUP BY n.n_name
""",
    "rel_small_qty_revenue": f"""
WITH t AS (
  SELECT l_partkey,
         {Q17_FRACTION} * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
                                AS DOUBLE) / COUNT(*)) AS qty_cut
  FROM lineitem GROUP BY l_partkey
)
SELECT COUNT(*) AS n_small_lineitems,
       COUNT(DISTINCT l.l_partkey) AS n_parts,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
         AS small_qty_revenue
FROM lineitem l JOIN t ON l.l_partkey = t.l_partkey
WHERE l.l_quantity < t.qty_cut
""",
    "rel_customers_no_urgent": """
SELECT c_custkey, c_name, c_mktsegment, c_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
""",
    "rel_customers_big_order": """
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
""",
    "rel_segment_orders": """
SELECT c.c_mktsegment,
  COUNT(DISTINCT c.c_custkey) AS n_customers,
  COUNT(o.o_orderkey) AS n_orders,
  COUNT(DISTINCT CASE WHEN o.o_orderkey IS NULL THEN c.c_custkey END)
    AS customers_without_orders,
  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
""",
    "rel_segment_stats": """
WITH g AS (
  SELECT c_mktsegment,
         COUNT(*) AS n_customers,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,4)) *
                       CAST(c_acctbal AS DECIMAL(18,4)) AS DECIMAL(28,8)))
            AS DOUBLE) AS s2,
         MIN(c_acctbal) AS min_acctbal,
         MAX(c_acctbal) AS max_acctbal
  FROM customer GROUP BY c_mktsegment
)
SELECT c_mktsegment, n_customers,
       round(s1 / n_customers, 4) AS avg_acctbal,
       round(sqrt((s2 - s1 * s1 / n_customers) / (n_customers - 1)), 4)
         AS std_acctbal,
       min_acctbal, max_acctbal
FROM g WHERE n_customers >= 10
""",
    "rel_top_parts": f"""
SELECT p.p_partkey, p.p_name, p.p_brand,
  CAST(SUM({_SQL_REVENUE}) AS DOUBLE) AS revenue,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_partkey, p.p_name, p.p_brand
ORDER BY revenue DESC, p.p_partkey ASC
LIMIT 15
""",
}

def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): unshipped-revenue top-{Q3_TOP}
    for one market segment — orders placed before the cut whose
    lineitems ship after it.  Both date predicates push down to the
    scans; the customer side is a broadcast SEMI join (only membership
    in the segment matters — no customer columns survive, so Catalyst
    never carries them); revenue folds as exact scale-6 money longs and
    the top-k runs as TakeOrderedAndProject with a fully deterministic
    tie order (revenue DESC, o_orderdate ASC, l_orderkey ASC), so both
    engines elect the same rows."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > Q3_CUT
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < Q3_CUT
    )
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == Q3_SEGMENT
    )
    return (
        o.join(
            F.broadcast(c.select("c_custkey")),
            o.o_custkey == F.col("c_custkey"),
            "left_semi",
        )
        .join(li, F.col("o_orderkey") == li.l_orderkey, "inner")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            lsum_scaled(
                lmoney(F.col("l_extendedprice"), F.col("l_discount")), 4
            ).alias("revenue")
        )
        .orderBy(
            F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey")
        )
        .limit(Q3_TOP)
    )


def q_late_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): per priority, the
    count of one year's orders with AT LEAST ONE lineitem shipped more
    than {Q4_LATE_DAYS} days after the order date.  The correlated
    EXISTS subquery spelled Spark-first: a LEFT SEMI join whose
    condition carries BOTH the key equality and the lateness predicate
    — each order contributes once no matter how many late lines it has
    (the semantics a plain inner join + distinct would need an extra
    shuffle to recover), and the date window pushes down to the orders
    scan.  At 100 TB the semi join is the shape: the lineitem side
    never materializes join output wider than the probe."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q4_START) & (F.col("o_orderdate") < Q4_END)
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {Q4_LATE_DAYS} DAYS")
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_orders"))
    )


def q_top_supplier_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
    returning EVERY supplier achieving the maximum — the correlated
    ``= (SELECT MAX(...))`` subquery as a window max over the ALREADY
    AGGREGATED supplier relation (one extra O(suppliers) pass; the
    naive spelling rescans lineitem).  Revenue folds as exact scaled
    longs, so the max-tie set is identical across engines — the reason
    Q15's ties are safe to return at all."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q15_START) & (F.col("l_shipdate") < Q15_END)
    )
    rev = li.groupBy("l_suppkey").agg(
        lsum_scaled(
            lmoney(F.col("l_extendedprice"), F.col("l_discount")), 4
        ).alias("revenue")
    )
    w = Window.partitionBy()
    return (
        rev.withColumn("_mx", F.max("revenue").over(w))
        .filter(F.col("revenue") == F.col("_mx"))
        .select("l_suppkey", "revenue")
    )


def q_big_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    lineitem quantity exceeds {Q18_MIN_QTY}, with the owning customer
    and the order's quantity total.  The classic IN-(grouped-subquery)
    spelled Spark-first: ONE lineitem aggregation serves both the
    HAVING filter and the output total (TPC-H's formulation scans
    lineitem twice; Catalyst cannot merge them, so the single-pass
    rewrite is the 100 TB shape — the fact table is read once), then
    order/customer attach by equi-joins (customer broadcast at dim
    ratio).  Quantities fold as exact scaled longs; ORDER BY
    o_totalprice DESC with o_orderkey tie-break keeps the top-k
    deterministic across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    per_order = (
        li.groupBy("l_orderkey")
        .agg(lsum(F.col("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > Q18_MIN_QTY)
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey, "inner")
        .join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
        .orderBy(
            F.desc("o_totalprice"), F.asc("o_orderkey")
        )
        .limit(Q18_TOP)
    )


def q_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bilateral trade volume between
    every DISTINCT (supplier nation, customer nation) pair per ship
    year — the 6-relation join Catalyst has to order well, plus the
    self-joined dimension (nation appears on both sides of the flow).

    100 TB shape: supplier⋈nation is folded into a 2-column broadcast
    dim and attached to lineitem AT SCAN GRAIN, then lineitem is
    pre-aggregated to (orderkey, supp_nation, year) BEFORE touching
    orders/customer — the fact shrinks ~4x ahead of the join graph and
    the orderkey shuffle the pre-agg pays is exactly the partitioning
    the orders join needs.  The asymmetric-pair filter runs on two
    broadcast-joined name columns; money stays an exact scale-4 long
    through the whole graph (lmoney/lsum_scaled)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    s_n = s.join(
        F.broadcast(n), s["s_nationkey"] == n["n_nationkey"], "inner"
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    li2 = li.join(
        dim_broadcast(s_n, sf_dir, "supplier", 2_000_000),
        li["l_suppkey"] == s_n["s_suppkey"],
        "inner",
    )
    part = li2.groupBy(
        "l_orderkey",
        "supp_nation",
        F.year("l_shipdate").cast("int").alias("ship_year"),
    ).agg(
        F.sum(
            lmoney(F.col("l_extendedprice"), F.col("l_discount"))
        ).alias("vol_s4"),
        F.count(F.lit(1)).alias("n_li"),
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nk"),
        F.col("n_name").alias("cust_nation"),
    )
    return (
        part.join(o, part["l_orderkey"] == o["o_orderkey"], "inner")
        .join(c, o["o_custkey"] == c["c_custkey"], "inner")
        .join(F.broadcast(n2), c["c_nationkey"] == F.col("c_nk"), "inner")
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "ship_year")
        .agg(
            F.sum("n_li").alias("n_lineitems"),
            lsum_scaled(F.col("vol_s4"), 4).alias("volume"),
        )
    )


def q_customer_order_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q13 shape (customer distribution): the histogram of
    customers by order count, INCLUDING zero-order customers (the left
    join whose null side must survive both aggregations — the classic
    Q13 trap), counting only non-URGENT orders (the join-side filter
    standing in for Q13's comment NOT LIKE).  Spark-first: aggregate
    ORDERS FIRST (one shuffle of the fact keyed by custkey, output
    customer-sized), LEFT join customer onto the counts, coalesce the
    null side to 0, then the second aggregation runs over a
    cardinality-of-distinct-counts relation.  Joining before
    aggregating — the literal SQL shape — would shuffle the full
    customer x orders join output instead."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != URGENT
    )
    per_cust = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return (
        c.join(per_cust, "c_custkey", "left")
        .select(
            F.coalesce(F.col("n_orders"), F.lit(0).cast("long")).alias(
                "n_orders"
            )
        )
        .groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-sales-opportunity): per market segment,
    the count and total balance of customers whose balance exceeds the
    average POSITIVE balance and who have NO RECENT orders (none since
    {Q22_CUTOFF} — Q22's lapsed-customer semantics) — the
    scalar-subquery threshold plus NOT EXISTS pair.  Spark-first: the
    anti join handles NOT EXISTS, with the date filter pushed into the
    orders scan so it probes only the recent slice; the scalar
    threshold is compared in the EXACT integer domain by
    cross-multiplication (``bal_s2 * n_pos > total_s2``) — no fp
    average whose summation order could flip a boundary customer
    between engines (the same exactness discipline as every money
    aggregate here).  The threshold aggregate is one scan reduced to
    two scalars, broadcast into the filter."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= Q22_CUTOFF)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    pos = c.filter(F.col("c_acctbal") > 0).agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.sum(lscale(F.col("c_acctbal"), 2)).alias("total_s2"),
    )
    rich = (
        c.crossJoin(F.broadcast(pos))
        .filter(
            lscale(F.col("c_acctbal"), 2) * F.col("n_pos")
            > F.col("total_s2")
        )
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    )
    return (
        rich.join(o, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            lsum(F.col("c_acctbal")).alias("total_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue): revenue from an OR of
    brand/size/quantity clause conjunctions — the disjunctive-predicate
    query optimizers historically mishandled.  Spark-first notes: the
    brand/size half of every clause touches only PART columns, so
    Catalyst pushes the clause disjunction's part-side projection into
    the broadcast dim scan and the join output carries just the
    columns the residual needs; revenue folds as exact scaled longs.
    One row per matching clause (first-match CASE order, identical in
    both engines) rather than Q19's single scalar, so the hash also
    pins per-clause routing."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    j = li.join(
        dim_broadcast(p, sf_dir, "part", 2_000_000),
        li["l_partkey"] == p["p_partkey"],
        "inner",
    )
    clause = F.lit(None).cast("int")
    for i, (brand, max_size, qlo, qhi) in reversed(
        list(enumerate(Q19_CLAUSES, start=1))
    ):
        cond = (
            (F.col("p_brand") == brand)
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= max_size)
            & (F.col("l_quantity") >= qlo)
            & (F.col("l_quantity") <= qhi)
        )
        clause = F.when(cond, F.lit(i)).otherwise(clause)
    return (
        j.select(
            clause.alias("clause"),
            lmoney(F.col("l_extendedprice"), F.col("l_discount")).alias(
                "m_s4"
            ),
        )
        .filter(F.col("clause").isNotNull())
        .groupBy("clause")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            lsum_scaled(F.col("m_s4"), 4).alias("revenue"),
        )
        .orderBy("clause")
    )


def q_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for every size-{Q2_SIZE}
    part, the supplier quoting the LOWEST observed unit price — the
    correlated ``= (SELECT MIN(...))`` subquery decorrelated into one
    grouped argmin (``min_by`` over a struct: map-side combinable, no
    second scan of the fact).  Unit price is computed in the exact
    integer domain (scale-2 cents integer-divided by the integral
    quantity) so the argmin and its tie-break (lowest suppkey) elect
    identical rows in both engines.  Supplier and nation attach AFTER
    the argmin — dim joins on a part-sized relation, the 100 TB
    ordering."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.expr(
            "cast(round(l_extendedprice * 100) as bigint) div "
            "cast(l_quantity as bigint)"
        ).alias("unit_s2"),
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_size") == Q2_SIZE
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    pp = dim_broadcast(p.select("p_partkey"), sf_dir, "part", 2_000_000)
    best = (
        li.join(
            pp, F.col("l_partkey") == F.col("p_partkey"), "inner"
        )
        .groupBy("p_partkey")
        .agg(
            F.min(
                F.struct(F.col("unit_s2"), F.col("l_suppkey"))
            ).alias("b")
        )
        .select(
            "p_partkey",
            F.col("b.unit_s2").alias("unit_price_cents"),
            F.col("b.l_suppkey").alias("s_suppkey"),
        )
    )
    return (
        best.join(F.broadcast(s), "s_suppkey")
        .join(
            F.broadcast(n), s["s_nationkey"] == n["n_nationkey"], "inner"
        )
        .select(
            "p_partkey",
            "unit_price_cents",
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("supplier_nation"),
        )
        .orderBy(F.asc("p_partkey"))
        .limit(Q2_TOP)
    )


def q_sole_late_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): suppliers
    that were the ONLY late shipper on a multi-supplier order.  The
    textbook spelling is a join plus correlated EXISTS (another
    supplier participated) plus NOT EXISTS (no other supplier was
    late) — TWO extra self-joins of the fact.  Spark-first it
    collapses to ONE grouped pass: per (order, supplier) fold the
    late flag, per order count suppliers and late suppliers, and the
    qualifying rows are ``is_late AND n_supp >= 2 AND n_late = 1`` —
    the fact is read once and every aggregate is map-side combinable
    (the decorrelation DuckDB/Catalyst cannot derive themselves
    because the EXISTS predicates are correlated on inequality).
    Lateness reuses Q4's window (shipped > {Q4_LATE_DAYS} days after
    order date).  Integer-only arithmetic end to end."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    s = load_table(spark, sf_dir, "supplier")
    per_os = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"], "inner")
        .select(
            "l_orderkey",
            "l_suppkey",
            F.when(
                F.col("l_shipdate")
                > F.col("o_orderdate")
                + F.expr(f"INTERVAL {Q4_LATE_DAYS} DAYS"),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("late"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").alias("is_late"))
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("is_late").alias("n_late"),
    )
    return (
        per_os.join(per_o, "l_orderkey")
        .filter(
            (F.col("is_late") == 1)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late") == 1)
        )
        .join(F.broadcast(s), per_os["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(Q21_TOP)
    )


def q_returned_item_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): the customers who
    returned the most revenue in one year — lineitems flagged 'R'
    joined through orders to the customer and nation dims, top-{Q10_TOP}
    by lost revenue.  Spark-first: both date and returnflag predicates
    push into their scans; lineitem pre-aggregates to ORDER grain
    before the join (the ``rel_star_revenue`` trick — the fact shrinks
    before touching the join graph and the orderkey shuffle doubles as
    the join partitioning); customer/nation broadcast at dim ratio.
    Exact scaled-long money; top-k ties break on custkey."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q10_START)
        & (F.col("o_orderdate") < Q10_END)
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(
            lmoney(F.col("l_extendedprice"), F.col("l_discount"))
        ).alias("rev_s4")
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey, "inner")
        .join(
            dim_broadcast(c, sf_dir, "customer", 2_000_000),
            o.o_custkey == c.c_custkey,
            "inner",
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            lsum_scaled(F.col("rev_s4"), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(Q10_TOP)
    )


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): per ship month of {Q14_YEAR},
    the percentage of revenue from PROMO-type parts.  The conditional
    revenue and the total fold in ONE aggregation pass (a CASE inside
    the sum — Q14's two-branch numerator without a second scan), both
    as exact scaled longs; the share is a single division of two
    exactly-derived doubles, mirrored verbatim in the oracle.  The part
    dim broadcasts; the month key derives in-scan so the group-by
    shuffles month-sized partials only."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate") == Q14_YEAR
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    m = lmoney(F.col("l_extendedprice"), F.col("l_discount"))
    promo_m = F.when(F.col("p_type") == "PROMO", m).otherwise(
        F.lit(0).cast("long")
    )
    g = (
        li.join(
            dim_broadcast(p, sf_dir, "part", 2_000_000),
            li["l_partkey"] == p["p_partkey"],
            "inner",
        )
        .groupBy(F.month("l_shipdate").alias("ship_month"))
        .agg(
            lsum_scaled(promo_m, 4).alias("promo_revenue"),
            lsum_scaled(m, 4).alias("total_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    return g.select(
        "ship_month",
        "n_lines",
        "promo_revenue",
        "total_revenue",
        F.round(
            (F.lit(100.0) * F.col("promo_revenue"))
            / F.col("total_revenue"),
            6,
        ).alias("promo_share_pct"),
    ).orderBy("ship_month")


def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): {Q8_NATION}'s share of
    supplier revenue in the {Q8_REGION} customer market, per order
    year.  The share is a conditional-over-total aggregate computed in
    ONE pass (CASE-sum / sum, Q8's nested-subquery formulation
    decorrelated); revenue folds as exact scaled longs and the share
    divides two exactly-derived doubles.  Region/nation/supplier
    broadcast; the fact shuffles once for the orderkey join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    sn = s.join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey, "inner"
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    m = lmoney(F.col("l_extendedprice"), F.col("l_discount"))
    nat_m = F.when(F.col("supp_nation") == Q8_NATION, m).otherwise(
        F.lit(0).cast("long")
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .join(c, o.o_custkey == c.c_custkey, "inner")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "inner")
        .filter(F.col("r_name") == Q8_REGION)
        .join(
            dim_broadcast(sn, sf_dir, "supplier", 2_000_000),
            li.l_suppkey == sn.s_suppkey,
            "inner",
        )
    )
    g = joined.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        lsum_scaled(nat_m, 4).alias("nation_revenue"),
        lsum_scaled(m, 4).alias("total_revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return g.select(
        "order_year",
        "n_lines",
        "nation_revenue",
        "total_revenue",
        F.round(
            F.col("nation_revenue") / F.col("total_revenue"), 6
        ).alias("market_share"),
    ).orderBy("order_year")


_PRICE_S2 = "cast(round(l_extendedprice * 100) as bigint)"


def q_small_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-order revenue): revenue lost to orders
    whose quantity is below 20% of the part's average order quantity.
    The textbook spelling is a correlated scalar subquery
    (``l_quantity < (SELECT 0.2*AVG(l_quantity) ... WHERE l_partkey =
    p_partkey)``) re-evaluated per outer row; decorrelated here to ONE
    grouped aggregate over the brand-filtered fact, broadcast back
    onto the same scan — the classic broadcast-aggregate decorrelation
    (the per-part averages relation is part-sized, so the second pass
    never shuffles).  The 0.2×average comparison cross-multiplies in
    the exact integer domain (``5*qty*n < sum_qty`` ⟺ ``qty <
    sum_qty/(5n)``), so both engines elect identical rows; revenue is
    an exact cents sum with the /7 "yearly average" applied as one
    IEEE double division at the very end.  Two broadcast-join scans of
    the pruned fact; the only exchanges move part-sized partial
    aggregates (the per-part combine and the final single row), never
    line-grain data — the 100 TB plan."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == Q17_BRAND) & (F.col("p_type") == Q17_TYPE)
    )
    pp = dim_broadcast(p.select("p_partkey"), sf_dir, "part", 2_000_000)

    def fact() -> DataFrame:
        return (
            load_table(spark, sf_dir, "lineitem")
            .select(
                "l_partkey",
                F.col("l_quantity").cast("bigint").alias("qty"),
                F.expr(_PRICE_S2).alias("price_s2"),
            )
            .join(pp, F.col("l_partkey") == F.col("p_partkey"), "inner")
        )

    per_part = fact().groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_lines_part"),
    )
    small = fact().join(
        F.broadcast(per_part.withColumnRenamed("l_partkey", "pk")),
        F.col("l_partkey") == F.col("pk"),
    ).filter(
        F.lit(5) * F.col("qty") * F.col("n_lines_part") < F.col("sum_qty")
    )
    return small.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.coalesce(F.sum("price_s2"), F.lit(0)).cast("bigint").alias(
            "total_s2"
        ),
    ).select(
        "n_lines",
        "total_s2",
        (F.col("total_s2").cast("double") / F.lit(700.0)).alias(
            "avg_yearly"
        ),
    )


def q_surplus_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers with surplus stock): the nested
    IN/EXISTS chain — suppliers IN (associations over parts IN
    (type-filtered parts) whose correlated half-sum threshold holds)
    AND in the target region.  With lineitem as the part↔supplier
    association (this corpus carries no partsupp), the "surplus"
    predicate compares two aggregates of the SAME grouped pass at
    (supplier, part) grain: total shipped quantity vs quantity shipped
    in the probe year — a supplier qualifies when some part it ships
    moved less than half its lifetime volume that year (``year_qty > 0
    AND total_qty > 2*year_qty``, exact integers).  Spark-first the
    whole chain collapses to: broadcast part-filter prune → one
    map-side-combinable grouped aggregate → filter → DISTINCT semi →
    broadcast dim attach; the oracle keeps the textbook IN-subquery
    spelling.  One fact shuffle at (suppkey, partkey) — the minimum
    any engine needs for the correlated threshold."""
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == Q20_TYPE
    )
    pp = dim_broadcast(p.select("p_partkey"), sf_dir, "part", 2_000_000)
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_partkey",
            "l_suppkey",
            F.col("l_quantity").cast("bigint").alias("qty"),
            "l_shipdate",
        )
        .join(pp, F.col("l_partkey") == F.col("p_partkey"), "inner")
    )
    in_year = (F.col("l_shipdate") >= Q20_START) & (
        F.col("l_shipdate") < Q20_END
    )
    per_sp = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("qty").alias("total_qty"),
        F.sum(F.when(in_year, F.col("qty")).otherwise(F.lit(0))).alias(
            "year_qty"
        ),
    )
    qual = (
        per_sp.filter(
            (F.col("year_qty") > 0)
            & (F.col("total_qty") > 2 * F.col("year_qty"))
        )
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q20_REGION
    )
    return (
        qual.join(
            F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select(
            "s_suppkey", "s_name", F.col("n_name").alias("nation")
        )
        .orderBy(F.asc("s_suppkey"))
    )


def q_part_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year): profit
    flows through FIVE tables — lineitem ⋈ part (type filter) ⋈
    supplier ⋈ nation for the selling nation, ⋈ orders for the year.
    With no partsupp cost column, per-line profit is margin vs list
    price: ``disc_price − p_retailprice*qty``, computed entirely in
    the exact scale-4 integer domain.  Join order is the 100 TB one:
    every dimension (filtered part + retail cents, supplier, nation)
    broadcasts onto the fact scan, the fact pre-aggregates to
    (orderkey, nation) grain BEFORE the one unavoidable fact↔fact
    shuffle against orders (the q_star_revenue trick — the shuffle
    moves order-grain rows, not line-grain), and the final (nation,
    year) rollup is map-side combinable."""
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == Q9_TYPE
    )
    pp = dim_broadcast(
        p.select(
            "p_partkey",
            lscale(F.col("p_retailprice"), 2).alias("retail_s2"),
        ),
        sf_dir,
        "part",
        4_000_000,
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    li = load_table(spark, sf_dir, "lineitem")
    profit_s4 = lmoney(
        F.col("l_extendedprice"), F.col("l_discount")
    ) - F.col("retail_s2") * F.lit(100) * F.col("l_quantity").cast(
        "bigint"
    )
    per_order = (
        li.join(pp, F.col("l_partkey") == F.col("p_partkey"), "inner")
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_orderkey", "n_name")
        .agg(
            F.sum(profit_s4).alias("profit_s4"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    return (
        per_order.join(
            o, F.col("l_orderkey") == F.col("o_orderkey"), "inner"
        )
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(
            F.sum("n_lines").cast("bigint").alias("n_lines"),
            F.sum("profit_s4").cast("bigint").alias("profit_s4"),
        )
        .select(
            "nation",
            "o_year",
            "n_lines",
            "profit_s4",
            (F.col("profit_s4").cast("double") / F.lit(10000.0)).alias(
                "sum_profit"
            ),
        )
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


def q_top_value_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts whose revenue exceeds
    1.5× the mean per-part revenue — a group-HAVING against a GLOBAL
    scalar aggregate.  One fact pass: the per-part rollup (map-side
    combinable cents sum) is the only fact shuffle, and the part-sized
    result is lineage-truncated (``stable_checkpoint``) so the global
    total/count and the HAVING filter both read the MATERIALIZED
    relation instead of re-scanning lineitem (Spark's static planner
    does not reuse the exchange across the two consumers — verified on
    the physical plan); the single-row total broadcasts back.  The
    threshold compares exact integers with
    decimal(38) cross-multiplication (``2*value*n_parts >
    3*total``) — no double roundoff can flip a membership, and the
    wide decimal keeps the product exact past the bigint range a
    100 TB cents-total would overflow."""
    from spark_spotify.functions.checkpoint import stable_checkpoint

    pv = stable_checkpoint(
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", F.expr(_PRICE_S2).alias("price_s2"))
        .groupBy("l_partkey")
        .agg(F.sum("price_s2").alias("value_s2"))
    )
    tot = pv.agg(
        F.sum("value_s2").cast("decimal(38,0)").alias("total_s2"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(
            F.col("value_s2").cast("decimal(38,0)")
            * F.lit(2)
            * F.col("n_parts")
            > F.lit(3) * F.col("total_s2")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "value_s2",
            (F.col("value_s2").cast("double") / F.lit(100.0)).alias(
                "value"
            ),
        )
        .orderBy(F.desc("value_s2"), F.asc("p_partkey"))
    )


def q_priority_shipflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-priority audit): lines shipped in the
    probe year, grouped by return flag (standing in for shipmode),
    counting high-priority (1-URGENT/2-HIGH) vs low-priority orders
    via CASE-routed conditional sums.  The ship-window filter prunes
    the fact at the scan; the line side pre-aggregates to (orderkey,
    flag) grain before the fact↔fact shuffle against orders, so the
    exchange moves order-grain rows and the priority CASE evaluates
    once per order-flag pair, not once per line."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= Q12_START)
            & (F.col("l_shipdate") < Q12_END)
        )
        .groupBy("l_orderkey", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin(*Q12_HIGH)
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"), "inner")
        .groupBy("l_returnflag")
        .agg(
            F.sum(
                F.when(high, F.col("n_lines")).otherwise(F.lit(0))
            ).cast("bigint").alias("high_line_count"),
            F.sum(
                F.when(~high, F.col("n_lines")).otherwise(F.lit(0))
            ).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def q_supplier_count_by_part(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16 shape (supplier count by part attributes): for the
    retained part universe (brand/type pushback + size IN-list), how
    many DISTINCT suppliers ship each (brand, type, size) — excluding
    "complaint" suppliers (negative account balance) via the classic
    NOT-IN pushback, spelled as a broadcast anti-join.  The association
    dedups to (partkey, suppkey) pairs map-side BEFORE attaching part
    attributes, so the count-distinct Expand runs over the reduced
    pair set; part and the excluded-supplier list both broadcast."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != Q16_EXCL_BRAND)
        & (F.col("p_type") != Q16_EXCL_TYPE)
        & F.col("p_size").isin(*Q16_SIZES)
    )
    pp = dim_broadcast(
        p.select("p_partkey", "p_brand", "p_type", "p_size"),
        sf_dir,
        "part",
        4_000_000,
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .join(pp, F.col("l_partkey") == F.col("p_partkey"), "inner")
        .select("l_partkey", "l_suppkey", "p_brand", "p_type", "p_size")
        .distinct()
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
    )
    return (
        pairs.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"),
            F.asc("p_brand"),
            F.asc("p_type"),
            F.asc("p_size"),
        )
    )


QUERIES = {
    "rel_pricing_summary": q_pricing_summary,
    "rel_nation_trade_flows": q_nation_trade_flows,
    "rel_star_revenue": q_star_revenue,
    "rel_local_supplier_volume": q_local_supplier_volume,
    "rel_small_qty_revenue": q_small_qty_revenue,
    "rel_customers_no_urgent": q_customers_no_urgent,
    "rel_customers_big_order": q_customers_big_order,
    "rel_segment_orders": q_segment_orders,
    "rel_segment_stats": q_segment_stats,
    "rel_top_parts": q_top_parts,
    "rel_customer_setops": q_customer_setops,
    "rel_value_range_join": q_value_range_join,
    "rel_click_purchase_full": q_click_purchase_full,
    "rel_ship_priority": q_ship_priority,
    "rel_big_order_customers": q_big_order_customers,
    "rel_late_shippers": q_late_shippers,
    "rel_top_supplier_share": q_top_supplier_share,
    "rel_customer_order_histogram": q_customer_order_histogram,
    "rel_idle_rich_customers": q_idle_rich_customers,
    "rel_disjunctive_revenue": q_disjunctive_revenue,
    "rel_min_price_supplier": q_min_price_supplier,
    "rel_sole_late_shipper": q_sole_late_shipper,
    "rel_returned_item_customers": q_returned_item_customers,
    "rel_promo_revenue_share": q_promo_revenue_share,
    "rel_nation_market_share": q_nation_market_share,
    "rel_small_order_revenue": q_small_order_revenue,
    "rel_surplus_suppliers": q_surplus_suppliers,
    "rel_part_type_profit": q_part_type_profit,
    "rel_top_value_parts": q_top_value_parts,
    "rel_priority_shipflag": q_priority_shipflag,
    "rel_supplier_count_by_part": q_supplier_count_by_part,
}

# TPC-H Q10 shape: returned revenue per customer, one year, top-k
ORACLE["rel_returned_item_customers"] = f"""
WITH per_order AS (
  SELECT l_orderkey, SUM({_SQL_REVENUE}) AS rev
  FROM lineitem l WHERE l_returnflag = 'R'
  GROUP BY l_orderkey
)
SELECT c.c_custkey, c.c_name, n.n_name, c.c_acctbal,
       CAST(SUM(po.rev) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM per_order po
JOIN orders o ON o.o_orderkey = po.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '{Q10_START} 00:00:00'
  AND o.o_orderdate < TIMESTAMP '{Q10_END} 00:00:00'
GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT {Q10_TOP}
"""

# TPC-H Q14 shape: promo revenue share per ship month
ORACLE["rel_promo_revenue_share"] = f"""
WITH g AS (
  SELECT month(l.l_shipdate) AS ship_month, COUNT(*) AS n_lines,
         CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_SQL_REVENUE}
                       ELSE CAST(0 AS DECIMAL(18,6)) END)
              AS DOUBLE) AS promo_revenue,
         CAST(SUM({_SQL_REVENUE}) AS DOUBLE) AS total_revenue
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE year(l.l_shipdate) = {Q14_YEAR}
  GROUP BY month(l.l_shipdate)
)
SELECT ship_month, n_lines, promo_revenue, total_revenue,
       round((100.0 * promo_revenue) / total_revenue, 6)
         AS promo_share_pct
FROM g ORDER BY ship_month
"""

# TPC-H Q8 shape: supplier-nation market share in a customer region
ORACLE["rel_nation_market_share"] = f"""
WITH g AS (
  SELECT year(o.o_orderdate) AS order_year, COUNT(*) AS n_lines,
         CAST(SUM(CASE WHEN sn.n_name = '{Q8_NATION}' THEN {_SQL_REVENUE}
                       ELSE CAST(0 AS DECIMAL(18,6)) END)
              AS DOUBLE) AS nation_revenue,
         CAST(SUM({_SQL_REVENUE}) AS DOUBLE) AS total_revenue
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn ON cn.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = cn.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
  WHERE r.r_name = '{Q8_REGION}'
  GROUP BY year(o.o_orderdate)
)
SELECT order_year, n_lines, nation_revenue, total_revenue,
       round(nation_revenue / total_revenue, 6) AS market_share
FROM g ORDER BY order_year
"""

# TPC-H Q13 shape: zero-order customers must survive both aggregations
ORACLE["rel_customer_order_histogram"] = f"""
SELECT n_orders, COUNT(*) AS n_customers
FROM (
  SELECT c.c_custkey, COALESCE(po.n_orders, 0) AS n_orders
  FROM customer c
  LEFT JOIN (SELECT o_custkey, COUNT(*) AS n_orders FROM orders
             WHERE o_orderpriority <> '{URGENT}'
             GROUP BY o_custkey) po
    ON po.o_custkey = c.c_custkey)
GROUP BY n_orders
ORDER BY n_customers DESC, n_orders DESC
"""

# TPC-H Q22 shape: exact cross-multiplied threshold, NOT EXISTS pair
ORACLE["rel_idle_rich_customers"] = f"""
WITH pos AS (
  SELECT COUNT(*) AS n_pos,
         SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS total_s2
  FROM customer WHERE c_acctbal > 0
),
rich AS (
  SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal
  FROM customer c, pos
  WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) * pos.n_pos
        > pos.total_s2
    AND NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '{Q22_CUTOFF} 00:00:00')
)
SELECT c_mktsegment, COUNT(*) AS n_customers,
       {SQL_DSUM.format(x='c_acctbal')} AS total_acctbal
FROM rich GROUP BY c_mktsegment ORDER BY c_mktsegment
"""

_Q19_CASE = " ".join(
    f"WHEN p_brand = '{b}' AND p_size BETWEEN 1 AND {ms} "
    f"AND l_quantity BETWEEN {ql} AND {qh} THEN {i}"
    for i, (b, ms, ql, qh) in enumerate(Q19_CLAUSES, start=1)
)

# TPC-H Q19 shape: disjunctive clause routing + exact money per clause
ORACLE["rel_disjunctive_revenue"] = f"""
WITH j AS (
  SELECT CASE {_Q19_CASE} END AS clause,
         {_SQL_REVENUE} AS m
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey)
SELECT clause, COUNT(*) AS n_lines, CAST(SUM(m) AS DOUBLE) AS revenue
FROM j WHERE clause IS NOT NULL
GROUP BY clause ORDER BY clause
"""

# TPC-H Q2 shape: per-part argmin in the exact integer domain
ORACLE["rel_min_price_supplier"] = f"""
WITH li AS (
  SELECT l_partkey, l_suppkey,
         CAST(round(l_extendedprice * 100) AS BIGINT)
           // CAST(l_quantity AS BIGINT) AS unit_s2
  FROM lineitem
),
best AS (
  SELECT p_partkey, unit_s2 AS unit_price_cents,
         l_suppkey AS s_suppkey
  FROM (
    SELECT p.p_partkey, li.unit_s2, li.l_suppkey,
           row_number() OVER (PARTITION BY p.p_partkey
             ORDER BY li.unit_s2 ASC, li.l_suppkey ASC) AS rn
    FROM li JOIN part p ON p.p_partkey = li.l_partkey
    WHERE p.p_size = {Q2_SIZE})
  WHERE rn = 1
)
SELECT b.p_partkey, b.unit_price_cents, b.s_suppkey, s.s_name,
       n.n_name AS supplier_nation
FROM best b
JOIN supplier s ON s.s_suppkey = b.s_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
ORDER BY b.p_partkey ASC
LIMIT {Q2_TOP}
"""

# TPC-H Q21 shape: EXISTS + NOT EXISTS collapsed to one grouped pass
ORACLE["rel_sole_late_shipper"] = f"""
WITH per_os AS (
  SELECT l.l_orderkey, l.l_suppkey,
         MAX(CASE WHEN l.l_shipdate > o.o_orderdate
                                      + INTERVAL {Q4_LATE_DAYS} DAY
                  THEN 1 ELSE 0 END) AS is_late
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY l.l_orderkey, l.l_suppkey
),
per_o AS (
  SELECT l_orderkey, COUNT(*) AS n_supp, SUM(is_late) AS n_late
  FROM per_os GROUP BY l_orderkey
)
SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
FROM per_os x
JOIN per_o p ON p.l_orderkey = x.l_orderkey
JOIN supplier s ON s.s_suppkey = x.l_suppkey
WHERE x.is_late = 1 AND p.n_supp >= 2 AND p.n_late = 1
GROUP BY s.s_suppkey, s.s_name
ORDER BY numwait DESC, s.s_suppkey ASC
LIMIT {Q21_TOP}
"""

# TPC-H Q17 shape: textbook correlated scalar subquery, exact
# cross-multiplied 0.2*AVG threshold
ORACLE["rel_small_order_revenue"] = f"""
WITH li AS (
  SELECT l.l_partkey, CAST(l.l_quantity AS BIGINT) AS qty,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS price_s2
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_brand = '{Q17_BRAND}' AND p.p_type = '{Q17_TYPE}'),
pa AS (SELECT l_partkey, SUM(qty) AS sq, COUNT(*) AS n
       FROM li GROUP BY l_partkey)
SELECT COUNT(*) AS n_lines,
       CAST(COALESCE(SUM(li.price_s2), 0) AS BIGINT) AS total_s2,
       CAST(COALESCE(SUM(li.price_s2), 0) AS DOUBLE) / 700.0
         AS avg_yearly
FROM li JOIN pa ON pa.l_partkey = li.l_partkey
WHERE 5 * li.qty * pa.n < pa.sq
"""

# TPC-H Q20 shape: nested IN chain with a correlated half-sum threshold
ORACLE["rel_surplus_suppliers"] = f"""
WITH sp AS (
  SELECT l_suppkey, l_partkey,
         SUM(CAST(l_quantity AS BIGINT)) AS total_qty,
         SUM(CASE WHEN l_shipdate >= TIMESTAMP '{Q20_START} 00:00:00'
                   AND l_shipdate < TIMESTAMP '{Q20_END} 00:00:00'
                  THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
           AS year_qty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_type = '{Q20_TYPE}'
  GROUP BY l_suppkey, l_partkey)
SELECT s.s_suppkey, s.s_name, n.n_name AS nation
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = '{Q20_REGION}'
  AND s.s_suppkey IN (SELECT l_suppkey FROM sp
                      WHERE year_qty > 0 AND total_qty > 2 * year_qty)
ORDER BY s.s_suppkey
"""

# TPC-H Q9 shape: five-table profit rollup, exact scale-4 margin
ORACLE["rel_part_type_profit"] = f"""
SELECT n.n_name AS nation,
       CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
       COUNT(*) AS n_lines,
       CAST(SUM(
         CAST(round(l.l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
         - CAST(round(p.p_retailprice * 100) AS BIGINT) * 100
           * CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS profit_s4,
       CAST(CAST(SUM(
         CAST(round(l.l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
         - CAST(round(p.p_retailprice * 100) AS BIGINT) * 100
           * CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS DOUBLE)
         / 10000.0 AS sum_profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE p.p_type = '{Q9_TYPE}'
GROUP BY nation, o_year
ORDER BY nation ASC, o_year DESC
"""

# TPC-H Q11 shape: group-HAVING against a global scalar aggregate
ORACLE["rel_top_value_parts"] = """
WITH pv AS (
  SELECT l_partkey,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS value_s2
  FROM lineitem GROUP BY l_partkey),
tot AS (SELECT CAST(SUM(value_s2) AS HUGEINT) AS total_s2,
               COUNT(*) AS n_parts
        FROM pv)
SELECT pv.l_partkey AS p_partkey,
       CAST(pv.value_s2 AS BIGINT) AS value_s2,
       CAST(pv.value_s2 AS DOUBLE) / 100.0 AS value
FROM pv, tot
WHERE CAST(pv.value_s2 AS HUGEINT) * 2 * tot.n_parts > 3 * tot.total_s2
ORDER BY pv.value_s2 DESC, pv.l_partkey ASC
"""

# TPC-H Q12 shape: CASE-routed priority counts per return flag
ORACLE["rel_priority_shipflag"] = f"""
SELECT l.l_returnflag,
       CAST(SUM(CASE WHEN o.o_orderpriority IN
                          ('{Q12_HIGH[0]}', '{Q12_HIGH[1]}')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority IN
                          ('{Q12_HIGH[0]}', '{Q12_HIGH[1]}')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '{Q12_START} 00:00:00'
  AND l.l_shipdate < TIMESTAMP '{Q12_END} 00:00:00'
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""

# TPC-H Q16 shape: NOT-IN supplier pushback + multi-key count-distinct
ORACLE["rel_supplier_count_by_part"] = f"""
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> '{Q16_EXCL_BRAND}'
  AND p.p_type <> '{Q16_EXCL_TYPE}'
  AND p.p_size IN {Q16_SIZES}
  AND l.l_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand ASC, p.p_type ASC, p.p_size ASC
"""
