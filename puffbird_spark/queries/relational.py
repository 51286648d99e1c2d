"""Relational surface: scans, filters, joins, aggregation, set ops, sort.

SURVEY §2.2 rows: projection/filter, equi/semi/anti/range/cross/as-of joins,
groupBy aggregates, rollup/cube, collect_list, sort/limit, set operations,
distinct/dedup. Each query is a thin declarative DataFrame plan — Catalyst
handles pushdown, pruning, join strategy (broadcast hints added where the
dimension side is provably small), and AQE handles skew at scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.asof import asof_join
from .base import avg_exact, dec, load, query, scratch_dir

# --------------------------------------------------------------------- #
# TPC-H-style analytical queries
# --------------------------------------------------------------------- #


@query("q1_pricing_summary", oracle="""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l_discount AS DECIMAL(12,2)))
           * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan-filter-agg. Filter + column pruning reach the
    parquet scan; partial aggregation is map-side (3x2 groups)."""
    li = load(spark, sf_dir, "lineitem")
    disc = F.lit(1).cast("decimal(12,2)") - dec("l_discount")
    tax = F.lit(1).cast("decimal(12,2)") + dec("l_tax")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * disc).cast("double").alias("sum_disc_price"),
            F.sum(dec("l_extendedprice") * disc * tax).cast("double").alias("sum_charge"),
            avg_exact(dec("l_quantity")).alias("avg_qty"),
            n.alias("count_order"),
        )
    )


@query("q3_shipping_priority", oracle="""
SELECT o.o_orderkey, o.o_orderdate,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""")
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective dimension filter then fact join + top-k.
    Revenue is exact decimal, so the LIMIT 10 frontier is deterministic."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    disc = F.lit(1).cast("decimal(12,2)") - dec("l_discount")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(dec("l_extendedprice") * disc).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@query("q5_region_revenue", oracle="""
SELECT n.n_name,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
""")
def q5_region_revenue(spark, sf_dir):
    """TPC-H Q5 shape: 6-way star join. nation/region/supplier are
    broadcast (dimension tables stay small at every SF — nation is 25 rows
    at 100 TB too); only the fact-fact join shuffles."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load(spark, sf_dir, "lineitem")
    supp = F.broadcast(load(spark, sf_dir, "supplier"))
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    region = F.broadcast(load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    disc = F.lit(1).cast("decimal(12,2)") - dec("l_discount")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey)
              & (cust.c_nationkey == supp.s_nationkey))
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(dec("l_extendedprice") * disc).cast("double").alias("revenue"))
    )


@query("q6_forecast_revenue", oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND CAST(l_discount AS DECIMAL(12,2)) BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: the pure scan query — every predicate pushes to
    the parquet scan, two columns read, one global aggregate with map-
    side partials. At 100 TB this is the query where pushdown IS the
    plan: no shuffle beyond the single-row partial merge."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & dec("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount"))
            .cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query("q10_returned_items", oracle="""
SELECT c.c_custkey, c.c_name,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
  CAST(c.c_acctbal AS DOUBLE) AS c_acctbal, n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""")
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape (returned-item reporting; reduced schema drops
    the address/phone/comment projections): selective fact predicates,
    a broadcast nation join, exact-decimal revenue so the top-20
    frontier is deterministic."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    disc = F.lit(1).cast("decimal(12,2)") - dec("l_discount")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(dec("l_extendedprice") * disc).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue",
                F.col("c_acctbal").cast("double").alias("c_acctbal"), "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query("q13_customer_distribution", oracle="""
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey)
GROUP BY c_count
""")
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape (customer order-count distribution; the reduced
    schema has no o_comment, so the NOT LIKE filter is dropped): LEFT
    join preserving order-less customers (COUNT of a NULL key is 0),
    then a second, tiny aggregation over the per-customer counts —
    the double-agg plan where the first groupBy carries all the data
    and the second is metadata-sized."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist"))


@query("q14_promo_revenue", oracle="""
SELECT
  CAST(SUM(CASE WHEN p.p_type = 'PROMO'
       THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
            * (1 - CAST(l.l_discount AS DECIMAL(12,2)))
       ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS promo_revenue,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE)
    AS total_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1996-06-01 00:00:00'
""")
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape (promotion effect; the reduced p_type is a single
    word, so equality replaces LIKE 'PROMO%'): month-sliced fact scan,
    broadcast part join, conditional aggregation. Both sums are exact
    decimal; the driver hashes them as doubles."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-06-01 00:00:00").cast("timestamp_ntz"))
    )
    part = F.broadcast(load(spark, sf_dir, "part"))
    disc_price = dec("l_extendedprice") * (
        F.lit(1).cast("decimal(12,2)") - dec("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
        F.lit(0).cast("decimal(12,2)"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.sum(promo).cast("double").alias("promo_revenue"),
            F.sum(disc_price).cast("double").alias("total_revenue"),
        )
    )


@query("q15_top_supplier", oracle="""
WITH rev AS (
  SELECT l_suppkey,
    SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name,
       CAST(r.total_revenue AS DOUBLE) AS total_revenue
FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
""")
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape (top supplier by quarterly revenue): the revenue
    CTE aggregates once, its scalar max broadcasts back as the filter
    (no re-aggregation, no window over the whole table), and the
    equality is on EXACT decimals so ties reproduce identically."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    disc = F.lit(1).cast("decimal(12,2)") - dec("l_discount")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(dec("l_extendedprice") * disc).alias("total_revenue"))
    top = rev.agg(F.max("total_revenue").alias("__max"))
    supp = F.broadcast(load(spark, sf_dir, "supplier"))
    return (
        rev.join(F.broadcast(top), rev.total_revenue == top.__max)
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name",
                F.col("total_revenue").cast("double").alias("total_revenue"))
    )


@query("q17_small_quantity_revenue", oracle="""
WITH t AS (SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
           WHERE p.p_brand = 'Brand#13'),
a AS (SELECT l_partkey,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
          / COUNT(*) AS avg_qty
      FROM t GROUP BY l_partkey)
SELECT CAST(SUM(CAST(t.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
         / 7.0 AS avg_yearly,
       COUNT(*) AS n_lines
FROM t JOIN a ON t.l_partkey = a.l_partkey
WHERE t.l_quantity < 0.2 * a.avg_qty
""")
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity-order revenue; the reduced
    schema has no p_container, so brand alone selects the part
    slice): the correlated scalar subquery (per-part average quantity)
    decorrelates into one aggregate + a self-join on partkey — the
    plan Catalyst produces for the subquery form and the one any
    engine should run at scale. The average is exact-sum/count so the
    0.2x threshold compares identically everywhere."""
    part = F.broadcast(load(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#13"))
    li = load(spark, sf_dir, "lineitem")
    t = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice")
    a = t.groupBy("l_partkey").agg(
        avg_exact(dec("l_quantity")).alias("avg_qty"))
    return (
        t.join(a.withColumnRenamed("l_partkey", "__pk"),
               t.l_partkey == F.col("__pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0))
            .alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query("q18_large_volume_customers", oracle="""
WITH big AS (SELECT l_orderkey FROM lineitem
             GROUP BY l_orderkey
             HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 200)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""")
def q18_large_volume_customers(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers, threshold 200 for the
    reduced row counts): the HAVING subquery becomes an aggregate +
    LEFT SEMI join on orderkey — the fact table is filtered to the big
    orders BEFORE the customer join, so the expensive join only sees
    the qualifying slice. Top-100 frontier ordered by exact decimal
    total price with orderkey tie-break."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("__sq"))
        .filter(F.col("__sq") > 200)
        .select(F.col("l_orderkey").alias("__big_ok"))
    )
    orders = load(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == F.col("__big_ok"), "left_semi")
    cust = load(spark, sf_dir, "customer")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                 "o_totalprice")
        .agg(F.sum(dec("l_quantity")).cast("double").alias("sum_qty"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                F.col("o_totalprice").cast("double").alias("o_totalprice"),
                "sum_qty")
        .orderBy(F.desc(dec("o_totalprice", 12, 2)), F.asc("o_orderkey"))
        .limit(100)
    )


# --------------------------------------------------------------------- #
# join variants
# --------------------------------------------------------------------- #


@query("join_semi", oracle="""
SELECT o_orderkey, o_totalprice FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
""")
def join_semi(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    big = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .select("o_orderkey", "o_totalprice")
    )


@query("join_anti", oracle="""
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
""")
def join_anti(spark, sf_dir):
    """Customers with no orders before 1996 (time-restricted so the result
    is non-empty at every SF)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


@query("join_range", oracle="""
SELECT e1.event_id AS click_id, e2.event_id AS purchase_id, e1.user_id
FROM events e1
JOIN events e2 ON e1.user_id = e2.user_id
  AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
WHERE e1.event_type = 'click' AND e2.event_type = 'purchase'
""")
def join_range(spark, sf_dir):
    """Theta/range join: purchases within 5 minutes after a click. The
    equi-part (user_id) keys the shuffle; the range condition is a
    post-join filter, so this stays a hash join, not a nested loop."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("cts")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("buyer_id"), F.col("ts").alias("pts"),
    )
    return (
        clicks.join(
            buys,
            (clicks.user_id == buys.buyer_id)
            & (buys.pts > clicks.cts)
            & (buys.pts <= clicks.cts + F.expr("INTERVAL 5 MINUTES")),
        )
        .select("click_id", "purchase_id", "user_id")
    )


@query("join_cross", oracle="""
SELECT r_name, event_type FROM region
CROSS JOIN (SELECT DISTINCT event_type FROM events) e
""")
def join_cross(spark, sf_dir):
    region = load(spark, sf_dir, "region").select("r_name")
    etypes = load(spark, sf_dir, "events").select("event_type").distinct()
    return region.crossJoin(etypes)


@query("join_asof", oracle="""
SELECT p.event_id, p.user_id, p.ts,
       c.ts AS click_ts, c.event_id AS click_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND c.ts <= p.ts
""")
def join_asof(spark, sf_dir):
    """As-of join: each purchase matched to the latest click at-or-before
    it. Implemented union-style (no per-row Python): see operators/asof.py."""
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    return asof_join(
        purchases, clicks, on=["user_id"], left_ts="ts", right_ts="click_ts",
        tiebreak="click_id",
    )


# --------------------------------------------------------------------- #
# aggregation
# --------------------------------------------------------------------- #


@query("agg_stats", oracle="""
SELECT n.n_name, COUNT(*) AS n_customers,
  COUNT(DISTINCT c.c_mktsegment) AS n_segments,
  MIN(c.c_acctbal) AS min_bal, MAX(c.c_acctbal) AS max_bal,
  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal,
  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_bal
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""")
def agg_stats(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.count_distinct("c_mktsegment").alias("n_segments"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
            F.sum(dec("c_acctbal")).cast("double").alias("sum_bal"),
            avg_exact(dec("c_acctbal")).alias("avg_bal"),
        )
    )


@query("agg_rollup", oracle="""
SELECT l_returnflag, l_linestatus,
  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
  CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  COUNT(*) AS n
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
""")
def agg_rollup(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query("agg_cube", oracle="""
SELECT o_orderstatus, o_orderpriority,
  CAST(GROUPING(o_orderstatus) AS INT) AS g_st,
  CAST(GROUPING(o_orderpriority) AS INT) AS g_pr,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price,
  COUNT(*) AS n
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
""")
def agg_cube(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_st"),
        F.grouping("o_orderpriority").cast("int").alias("g_pr"),
        F.sum(dec("o_totalprice", 14)).cast("double").alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


@query("agg_collect", oracle="""
SELECT l_orderkey,
  array_to_string(list_transform(list(l_partkey ORDER BY l_partkey),
                                 x -> CAST(x AS VARCHAR)), ',') AS partkeys
FROM lineitem GROUP BY l_orderkey
""")
def agg_collect(spark, sf_dir):
    """collect_list canonicalized: numeric sort then string join so the
    nested value hashes identically on both engines (SURVEY §7 risk 4 —
    Spark collect order is nondeterministic, so sort inside the group)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("l_partkey")),
                        lambda x: x.cast("string")),
            ",",
        ).alias("partkeys")
    )


@query("agg_approx_distinct", oracle="""
SELECT l_returnflag,
  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct,
  TRUE AS distinct_ok, TRUE AS median_ok
FROM lineitem GROUP BY l_returnflag
""")
def agg_approx_distinct(spark, sf_dir):
    """approx_count_distinct + percentile_approx, SELF-CHECKING (round-3
    VERDICT #5): approximate values have tolerance semantics, so the gate
    emits the tolerance *assertion* per group next to the exact distinct
    count the oracle can verify —

    - ``distinct_ok`` — HLL++ estimate within 10% of the exact count
      (default rsd 5%; observed 2.65% at sf0.01);
    - ``median_ok``   — percentile_approx within 0.5% of the exact median
      (observed 0.02%).

    Both aggregates are deterministic (HLL sketches and the Greenwald-
    Khanna summary merge associatively), so the booleans are stable."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").cast("long").alias("exact_distinct"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey")
                - F.countDistinct("l_partkey")
            )
            / F.countDistinct("l_partkey")
            <= 0.10
        ).alias("distinct_ok"),
        (
            F.abs(
                F.percentile_approx("l_extendedprice", 0.5)
                - F.median("l_extendedprice")
            )
            / F.median("l_extendedprice")
            <= 0.005
        ).alias("median_ok"),
    )


# --------------------------------------------------------------------- #
# sort / limit / set ops / distinct
# --------------------------------------------------------------------- #


@query("sort_topk", oracle="""
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""")
def sort_topk(spark, sf_dir):
    """Global top-k: Spark plans TakeOrderedAndProject — no full sort, no
    single-node shuffle of the whole table."""
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@query("set_union_all", oracle="""
SELECT c_nationkey AS nationkey FROM customer
UNION ALL SELECT s_nationkey FROM supplier
""")
def set_union_all(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s)


@query("set_intersect", oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT SELECT s_nationkey FROM supplier
""")
def set_intersect(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query("set_except", oracle="""
SELECT o_orderkey AS orderkey FROM orders
EXCEPT SELECT l_orderkey FROM lineitem
""")
def set_except(spark, sf_dir):
    """EXCEPT (set semantics, = DataFrame.subtract): orders that have no
    lineitems."""
    o = load(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("orderkey"))
    l = load(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("orderkey"))
    return o.subtract(l)


@query("distinct_segments", oracle="SELECT DISTINCT c_mktsegment FROM customer")
def distinct_segments(spark, sf_dir):
    return load(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@query("dedup_first_per_key", oracle="""
SELECT c_nationkey, c_mktsegment, c_custkey, c_name FROM customer
QUALIFY row_number() OVER (PARTITION BY c_nationkey, c_mktsegment
                           ORDER BY c_custkey) = 1
""")
def dedup_first_per_key(spark, sf_dir):
    """Deterministic dropDuplicates: unlike ``dropDuplicates(subset)`` (which
    keeps an arbitrary row), rank-and-filter pins WHICH row survives."""
    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy("c_custkey")
    return (
        cust.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("c_nationkey", "c_mktsegment", "c_custkey", "c_name")
    )


# --------------------------------------------------------------------- #
# round-2: grouping sets, right/full outer, salted skew aggregation
# --------------------------------------------------------------------- #


@query("agg_grouping_sets", oracle="""
SELECT l_returnflag, l_linestatus,
  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
  CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""")
def agg_grouping_sets(spark, sf_dir):
    """Native DataFrame GROUPING SETS (one shuffle with an Expand, NOT a
    union of per-set aggregations — a union would scan the fact table once
    per set)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag", "l_linestatus",
    ).agg(
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query("join_right_full", oracle="""
WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 900),
oagg AS (SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
         FROM orders WHERE o_custkey >= 100 GROUP BY o_custkey)
SELECT 'right' AS join_kind, c.c_custkey AS custkey, c.c_name,
       oagg.n_orders, oagg.sum_price,
       (oagg.o_custkey IS NOT NULL) AS matched
FROM oagg RIGHT JOIN c ON oagg.o_custkey = c.c_custkey
UNION ALL
SELECT 'full', coalesce(c.c_custkey, oagg.o_custkey), c.c_name,
       oagg.n_orders, oagg.sum_price,
       (c.c_custkey IS NOT NULL AND oagg.o_custkey IS NOT NULL)
FROM oagg FULL JOIN c ON oagg.o_custkey = c.c_custkey
""")
def join_right_full(spark, sf_dir):
    """Right and full outer joins with BOTH sides carrying unmatched rows
    (each side range-filtered differently), so every null-extension path
    is exercised and hash-checked."""
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_custkey") <= 900
    ).select("c_custkey", "c_name")
    oagg = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") >= 100)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice", 14)).cast("double").alias("sum_price"),
        )
    )
    cond = oagg.o_custkey == cust.c_custkey
    right = oagg.join(cust, cond, "right").select(
        F.lit("right").alias("join_kind"),
        F.col("c_custkey").alias("custkey"),
        "c_name", "n_orders", "sum_price",
        F.col("o_custkey").isNotNull().alias("matched"),
    )
    full = oagg.join(cust, cond, "full").select(
        F.lit("full").alias("join_kind"),
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_name", "n_orders", "sum_price",
        (F.col("c_custkey").isNotNull()
         & F.col("o_custkey").isNotNull()).alias("matched"),
    )
    return right.unionAll(full)


@query("agg_skew_salted", oracle="""
SELECT l_returnflag, COUNT(*) AS n,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  MAX(l_extendedprice) AS max_price
FROM lineitem GROUP BY l_returnflag
""")
def agg_skew_salted(spark, sf_dir):
    """Two-phase salted aggregation over a genuinely skewed key (3 return
    flags for the whole fact table — one reducer per flag without salting).
    Result must EQUAL the plain groupBy: the oracle is the unsalted SQL,
    so the partial/merge decomposition is hash-checked."""
    from ..operators.skew import salted_agg

    li = load(spark, sf_dir, "lineitem")
    out = salted_agg(
        li, ["l_returnflag"],
        {
            "n": (lambda: F.count(F.lit(1)), lambda c: F.sum(c)),
            "sum_qty": (lambda: F.sum(dec("l_quantity")), lambda c: F.sum(c)),
            "max_price": (lambda: F.max("l_extendedprice"), lambda c: F.max(c)),
        },
        salt_buckets=16,
    )
    return out.select(
        "l_returnflag", "n",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        "max_price",
    )


@query("set_union_by_name", oracle="""
SELECT c_custkey AS id, c_acctbal AS bal, 'cust' AS src FROM customer
UNION ALL
SELECT s_suppkey, s_acctbal, 'supp' FROM supplier
UNION ALL
SELECT p_partkey, NULL, 'part' FROM part
""")
def set_union_by_name(spark, sf_dir):
    """unionByName: position-independent union (+ allowMissingColumns
    null-filling) — schema drift across sources resolved by NAME, the
    thing positional UNION silently gets wrong."""
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("bal"),
        F.lit("cust").alias("src"),
    )
    # deliberately different column ORDER: unionByName must realign
    supp = load(spark, sf_dir, "supplier").select(
        F.lit("supp").alias("src"),
        F.col("s_acctbal").alias("bal"),
        F.col("s_suppkey").alias("id"),
    )
    # deliberately missing column: allowMissingColumns null-fills
    part = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"),
        F.lit("part").alias("src"),
    )
    return cust.unionByName(supp).unionByName(
        part, allowMissingColumns=True
    )


@query("mem_rows_table", oracle="""
WITH tiers(c_mktsegment, tier) AS (VALUES
  ('AUTOMOBILE', 1), ('BUILDING', 2), ('FURNITURE', 3),
  ('HOUSEHOLD', 4), ('MACHINERY', 5))
SELECT t.tier, COUNT(*) AS n,
  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
FROM customer c JOIN tiers t USING (c_mktsegment)
GROUP BY t.tier
""")
def mem_rows_table(spark, sf_dir):
    """In-memory rows -> table (createDataFrame) joined against a parquet
    fact — the literal-dimension pattern (broadcast by Catalyst: the local
    relation has known tiny stats)."""
    tiers = spark.createDataFrame(
        [("AUTOMOBILE", 1), ("BUILDING", 2), ("FURNITURE", 3),
         ("HOUSEHOLD", 4), ("MACHINERY", 5)],
        ["c_mktsegment", "tier"],
    )
    cust = load(spark, sf_dir, "customer")
    return (
        cust.join(F.broadcast(tiers), "c_mktsegment")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("c_acctbal")).cast("double").alias("sum_bal"),
        )
    )


@query("merge_upsert_customers", oracle="""
WITH upd AS (
  SELECT c_custkey,
         CAST(c_acctbal AS DECIMAL(12,2)) + 100 AS new_bal,
         (c_custkey % 10 = 3) AS is_del
  FROM customer WHERE c_custkey % 3 = 0),
ins AS (
  SELECT 900000 + r AS c_custkey, CAST(0.5 * r AS DOUBLE) AS new_bal,
         false AS is_del
  FROM (SELECT unnest(range(1, 6)) AS r)),
u AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
SELECT coalesce(c.c_custkey, u.c_custkey) AS c_custkey,
       c.c_name,
       coalesce(CAST(u.new_bal AS DOUBLE), c.c_acctbal) AS c_acctbal
FROM customer c FULL JOIN u ON c.c_custkey = u.c_custkey
WHERE NOT coalesce(u.is_del, false)
""")
def merge_upsert_customers(spark, sf_dir):
    """MERGE INTO semantics as one full-outer join (operators/merge.py):
    every third customer's balance is updated (+100), customers with
    key % 10 = 3 among those are deleted, and five brand-new customers
    are inserted (name NULL — schema-subset insert). The small CDC batch
    broadcasts; the target is never shuffled."""
    from ..operators.merge import merge_upsert

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    upd = cust.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        (dec("c_acctbal") + 100).cast("double").alias("c_acctbal"),
        (F.col("c_custkey") % 10 == 3).alias("is_del"),
    )
    ins = spark.range(1, 6).select(
        (F.lit(900000) + F.col("id")).alias("c_custkey"),
        (F.col("id") * 0.5).cast("double").alias("c_acctbal"),
        F.lit(False).alias("is_del"),
    )
    updates = upd.unionByName(ins)
    return merge_upsert(
        cust, updates, keys=["c_custkey"], delete_col="is_del",
        on_duplicate="allow",  # keys unique by construction; skip the check job
    )


@query("agg_percentiles_exact", oracle="""
SELECT l_returnflag,
  round(quantile_cont(l_extendedprice, 0.25), 6) AS q25,
  round(quantile_cont(l_extendedprice, 0.50), 6) AS q50,
  round(quantile_cont(l_extendedprice, 0.75), 6) AS q75,
  round(median(l_extendedprice), 6) AS med
FROM lineitem GROUP BY l_returnflag
""")
def agg_percentiles_exact(spark, sf_dir):
    """EXACT percentiles (linear interpolation) + median — the precise
    twin of agg_approx_distinct's tolerance-checked percentile_approx.
    Both engines interpolate a + (b-a)*f; rounded 6dp to absorb the last
    ulp of the interpolation product. Output is FLAT scalar columns
    (q25/q50/q75) — the driver canonicalizer cannot hash array cells
    (r2 fn_struct, r3 quartiles regression; see lint in base.py)."""
    li = load(spark, sf_dir, "lineitem")
    quart = F.percentile("l_extendedprice", F.lit([0.25, 0.5, 0.75]))
    return li.groupBy("l_returnflag").agg(
        F.round(quart[0], 6).alias("q25"),
        F.round(quart[1], 6).alias("q50"),
        F.round(quart[2], 6).alias("q75"),
        F.round(F.median("l_extendedprice"), 6).alias("med"),
    )


@query("join_range_binned", oracle="""
SELECT c.c_custkey AS c_custkey, s.s_suppkey AS s_suppkey,
       CAST(c.c_acctbal AS DOUBLE) AS c_acctbal,
       CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
FROM customer c JOIN supplier s
  ON c.c_acctbal >= s.s_acctbal - 50 AND c.c_acctbal <= s.s_acctbal + 50
""")
def join_range_binned(spark, sf_dir):
    """PURE range join (no equi key): customers within +-50 of a
    supplier's balance. Naively a BroadcastNestedLoopJoin — O(n x m), the
    scale-killer; binned_range_join turns it into one equi-join on bin
    ids (width 100 = the interval width, so each interval spans <= 2
    bins). Plan-asserted nested-loop-free."""
    from ..operators.rangejoin import binned_range_join

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").cast("double").alias("c_acctbal"))
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.col("s_acctbal").cast("double").alias("s_acctbal"),
        (F.col("s_acctbal") - 50).cast("double").alias("lo"),
        (F.col("s_acctbal") + 50).cast("double").alias("hi"),
    )
    return binned_range_join(
        cust, supp, "c_acctbal", "lo", "hi", bin_width=100.0
    ).select("c_custkey", "s_suppkey", "c_acctbal", "s_acctbal")


@query("join_skew_replicated", oracle="""
SELECT l.l_orderkey, l.l_linenumber, s.s_name,
       CAST(l.l_quantity AS DOUBLE) AS qty
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
""")
def join_skew_replicated(spark, sf_dir):
    """Skew-proof equi-join (operators/skew.py replicated_join): the
    dimension is exploded salt_buckets ways and the fact side salted, so
    a hot join key spreads over salt_buckets partitions instead of
    overwhelming one reducer — the manual fix for skew shapes AQE's
    skew-join splitting doesn't cover (broadcast-ineligible mid-size
    dims, deliberate pre-partitioning). The salt is internal routing
    only: the result must equal the plain join bit-for-bit, which is
    exactly what the oracle checks."""
    from ..operators.skew import replicated_join

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey",
        F.col("l_quantity").cast("double").alias("qty"),
    )
    supp = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    return replicated_join(li, supp, ["l_suppkey"], salt_buckets=8).select(
        "l_orderkey", "l_linenumber", "s_name", "qty"
    )


@query("agg_hll_rollup", oracle="""
WITH b AS (
  SELECT CAST(n.n_regionkey AS VARCHAR) AS region,
         CAST(n.n_name AS VARCHAR) AS nation, c.c_custkey
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
e AS (
  SELECT region, nation, COUNT(DISTINCT c_custkey) AS n_exact,
         GROUPING(region, nation) AS gid
  FROM b GROUP BY ROLLUP(region, nation))
SELECT CASE gid WHEN 0 THEN 'fine' WHEN 1 THEN 'coarse' ELSE 'total' END
         AS level,
       region, nation, CAST(n_exact AS BIGINT) AS n_exact, TRUE AS hll_ok
FROM e
""")
def agg_hll_rollup(spark, sf_dir):
    """Mergeable HyperLogLog distinct-count rollup (`hll_rollup`,
    operators/sketch.py): per-(region, nation) Datasketches HLL sketches
    of the customer key are built in ONE scan; the region level and the
    grand total derive by UNIONING those sketches — the data is never
    rescanned, which is the 100 TB distinct-count pattern (exact
    COUNT(DISTINCT) at every level costs one raw-key shuffle per level).

    The sketch estimate has no DuckDB twin, so the gate is SELF-CHECKING
    like sketch_count_min: every level's EXACT distinct count is
    oracle-verified, and ``hll_ok`` asserts the sketch estimate is
    within 5% of it (lgConfigK=12 -> ~1.6% standard error; 3 sigma).
    Deterministic: the HLL sketch is content-hash-based, not sampled."""
    from ..operators.sketch import hll_rollup

    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load(spark, sf_dir, "nation")
    base = cust.join(
        F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"]
    ).select(
        F.col("n_regionkey").cast("string").alias("region"),
        F.col("n_name").cast("string").alias("nation"),
        "c_custkey",
    )
    est = hll_rollup(base, "c_custkey", ["region", "nation"], ["region"])
    exact = (
        base.rollup("region", "nation")
        .agg(
            F.countDistinct("c_custkey").alias("n_exact"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.when(F.col("gid") == 0, "fine")
            .when(F.col("gid") == 1, "coarse")
            .otherwise("total")
            .alias("level"),
            "region", "nation", "n_exact",
        )
    )
    rel_err = (
        F.abs(F.col("approx_distinct") - F.col("n_exact"))
        / F.col("n_exact")
    )
    # the verifier join matches |groups| rows on each side (31 at the
    # driven SFs, grouping-count-sized always) — broadcast the sketch
    # side so it plans as a hash join instead of a sort-merge (null-safe
    # equality is a valid hash key); removes 2 Exchange + 2 Sort from
    # the plan (guide §3.1; r14)
    return exact.alias("x").join(
        F.broadcast(est.alias("s")),
        (F.col("x.level") == F.col("s.level"))
        & F.col("x.region").eqNullSafe(F.col("s.region"))
        & F.col("x.nation").eqNullSafe(F.col("s.nation")),
    ).select(
        "x.level", "x.region", "x.nation",
        F.col("n_exact").cast("long").alias("n_exact"),
        (rel_err <= 0.05).alias("hll_ok"),
    )


@query("agg_hll_incremental", oracle="""
SELECT o_orderpriority, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact,
       TRUE AS hll_ok
FROM orders GROUP BY o_orderpriority
""")
def agg_hll_incremental(spark, sf_dir):
    """Incremental distinct-count refresh from PERSISTED HLL state
    (`hll_sketch_state`/`hll_merge_increment`, operators/sketch.py):
    history (90% of orders) is sketched once and written to parquet as
    a binary state column; the gate re-READS that state and merges only
    the new batch's sketch — history is never rescanned, the refresh
    cost is |groups| rows of ~2^12 bytes. The HLL union is lossless
    (per-register max), so replayed state is bit-identical to one-shot
    sketching (unit-tested); the gate self-checks each group's estimate
    within 5% of the oracle-verified exact distinct over the FULL data."""
    from ..operators.sketch import hll_merge_increment, hll_sketch_state

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_custkey")
    old = orders.filter(F.col("o_orderkey") % 10 != 0)
    new = orders.filter(F.col("o_orderkey") % 10 == 0)
    path = scratch_dir(sf_dir, "agg_hll_incremental")
    hll_sketch_state(old, "o_custkey", ["o_orderpriority"]).write.mode(
        "overwrite").parquet(path)
    state = spark.read.parquet(path)
    merged = hll_merge_increment(state, new, "o_custkey",
                                 ["o_orderpriority"])
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_exact"))
    est = merged.select(
        "o_orderpriority", F.hll_sketch_estimate("hll_state").alias("est"))
    return exact.join(est, "o_orderpriority").select(
        "o_orderpriority",
        F.col("n_exact").cast("long").alias("n_exact"),
        (F.abs(F.col("est") - F.col("n_exact")) / F.col("n_exact")
         <= 0.05).alias("hll_ok"),
    )


@query("join_bloom_pruned", oracle="""
SELECT l.l_orderkey, l.l_linenumber, p.p_brand,
       CAST(l.l_quantity AS DOUBLE) AS qty
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size = 1
""")
def join_bloom_pruned(spark, sf_dir):
    """Bloom-pruned shuffle join (`operators/bloomjoin.py`): the classic
    semi-join reduction — a Bloom filter over the selective dimension's
    join keys (parts with p_size = 1) is probed scan-locally on the fact
    side, so only probable matches ever reach the exchange; Bloom has no
    false negatives, so the result is BIT-EQUAL to the plain join, which
    is exactly what the oracle checks. Spark's runtime bloomFilter
    rewrite (SPARK-32268) injects this shape only when cost estimates
    cooperate; the explicit operator guarantees it, and the filter words
    are reusable across every fact join of the same dimension. The
    filter ships as ONE ndarray literal (2^17 bits = 2048 longs) — the
    decontam lesson about py4j per-element literals applied."""
    from ..operators.bloomjoin import bloom_pruned_join

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey",
        F.col("l_quantity").cast("double").alias("qty"),
    )
    part = load(spark, sf_dir, "part").filter(F.col("p_size") == 1).select(
        "p_partkey", "p_brand"
    )
    out = bloom_pruned_join(li, part, "l_partkey", "p_partkey",
                            m_bits=1 << 17)
    return out.select("l_orderkey", "l_linenumber", "p_brand", "qty")


@query("diag_key_skew", oracle="""
WITH c AS (SELECT CAST(o_custkey AS VARCHAR) AS k, COUNT(*) AS n
           FROM orders GROUP BY 1),
s AS (SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(n) AS BIGINT) AS max_key_rows,
             round(quantile_cont(n, 0.5), 6) AS p50_key_rows,
             round(quantile_cont(n, 0.99), 6) AS p99_key_rows
      FROM c),
t AS (SELECT MIN(c.k) AS top_key FROM c, s WHERE c.n = s.max_key_rows)
SELECT s.n_rows, s.n_keys, s.max_key_rows, t.top_key,
       s.p50_key_rows, s.p99_key_rows,
       round(s.max_key_rows / (CAST(s.n_rows AS DOUBLE) / s.n_keys), 6)
         AS heavy_ratio
FROM s CROSS JOIN t
""")
def diag_key_skew(spark, sf_dir):
    """Shuffle-key skew diagnostics (`key_skew_stats`,
    operators/skew.py) — the measurement that precedes every
    salting/replication decision: per-key count distribution
    (max/p50/p99), the deterministic heaviest key, and `heavy_ratio`
    (max over mean — the straggler-task predictor at 100 TB), all from
    ONE keyed count plus key-count-sized aggregates; no sort, no
    collect. Run on orders.o_custkey; every stat hash-checked."""
    from ..operators.skew import key_skew_stats

    orders = load(spark, sf_dir, "orders")
    return key_skew_stats(orders, "o_custkey")


@query("diag_join_cardinality", oracle="""
WITH lc AS (SELECT CAST(o_orderkey AS VARCHAR) AS k, COUNT(*) AS a
            FROM orders GROUP BY 1),
rc AS (SELECT CAST(l_orderkey AS VARCHAR) AS k, COUNT(*) AS b
       FROM lineitem GROUP BY 1),
j AS (SELECT lc.k, lc.a * rc.b AS pairs FROM lc JOIN rc ON lc.k = rc.k),
t AS (SELECT CAST(SUM(pairs) AS BIGINT) AS n_pairs_predicted,
             CAST(COUNT(*) AS BIGINT) AS n_keys_joint,
             CAST(MAX(pairs) AS BIGINT) AS max_key_pairs
      FROM j),
tk AS (SELECT MIN(j.k) AS top_key FROM j, t WHERE j.pairs = t.max_key_pairs),
act AS (SELECT COUNT(*) AS n_actual
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
SELECT t.n_pairs_predicted, t.n_keys_joint, t.max_key_pairs, tk.top_key,
       round(t.n_pairs_predicted
             / CAST((SELECT COUNT(*) FROM lineitem) AS DOUBLE), 6)
         AS blowup_ratio,
       t.n_pairs_predicted = act.n_actual AS predicted_matches_actual
FROM t, tk, act
""")
def diag_join_cardinality(spark, sf_dir):
    """Join pre-flight sizing (`join_cardinality`, operators/skew.py):
    the exact output row count of orders ⋈ lineitem predicted from the
    two per-key COUNT HISTOGRAMS — never running the join. At 100 TB
    this is the check that catches a many-to-many blowup or one hot
    key (`max_key_pairs` says "salt me") for the cost of two keyed
    counts whose shuffle is (key, count) pairs, not data. The gate
    ALSO runs the real join and emits `predicted_matches_actual` — the
    predictor's exactness is part of the hash."""
    from ..operators.skew import join_cardinality

    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    pred = join_cardinality(orders, li, "o_orderkey", "l_orderkey")
    actual = orders.join(
        li, orders.o_orderkey == li.l_orderkey).count()
    return pred.withColumn(
        "predicted_matches_actual",
        F.col("n_pairs_predicted") == F.lit(actual))




@query("diag_distribution_psi", oracle="""
WITH ref AS (SELECT event_type, CAST(value AS DOUBLE) AS v
             FROM events
             WHERE value IS NOT NULL AND (event_id // 16) % 2 = 0),
cur AS (SELECT event_type,
          CAST(CASE WHEN event_type = 'error' THEN value * 3
               ELSE value END AS DOUBLE) AS v
        FROM events
        WHERE value IS NOT NULL AND (event_id // 16) % 2 = 1),
e AS (SELECT event_type, quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS edges
      FROM ref GROUP BY event_type),
ra AS (SELECT r.event_type, len(list_filter(e.edges, x -> r.v > x)) AS b,
              COUNT(*) AS na
       FROM ref r JOIN e ON r.event_type = e.event_type GROUP BY 1, 2),
rb AS (SELECT c.event_type, len(list_filter(e.edges, x -> c.v > x)) AS b,
              COUNT(*) AS nb
       FROM cur c JOIN e ON c.event_type = e.event_type GROUP BY 1, 2),
grid AS (SELECT e.event_type, t.range AS b FROM e, range(0, 10) t),
cells AS (SELECT g.event_type, g.b,
            COALESCE(ra.na, 0) AS na, COALESCE(rb.nb, 0) AS nb
          FROM grid g
          LEFT JOIN ra ON g.event_type = ra.event_type AND g.b = ra.b
          LEFT JOIN rb ON g.event_type = rb.event_type AND g.b = rb.b),
tot AS (SELECT event_type, SUM(na) AS ta, SUM(nb) AS tb
        FROM cells GROUP BY event_type)
SELECT c.event_type, CAST(MAX(t.ta) AS BIGINT) AS n_ref,
       CAST(MAX(t.tb) AS BIGINT) AS n_cur,
       round(SUM(((c.nb + 0.5) / (t.tb + 5.0) - (c.na + 0.5) / (t.ta + 5.0))
                 * ln(((c.nb + 0.5) / (t.tb + 5.0))
                      / ((c.na + 0.5) / (t.ta + 5.0)))), 6) AS psi,
       round(SUM(((c.nb + 0.5) / (t.tb + 5.0) - (c.na + 0.5) / (t.ta + 5.0))
                 * ln(((c.nb + 0.5) / (t.tb + 5.0))
                      / ((c.na + 0.5) / (t.ta + 5.0)))), 6) > 0.25
         AS drifted
FROM cells c JOIN tot t ON c.event_type = t.event_type
GROUP BY c.event_type
""")
def diag_distribution_psi(spark, sf_dir):
    """Corpus-drift monitoring (`distribution_psi`, operators/drift.py):
    Population Stability Index of the odd-block event snapshot against
    the even-block reference, per event_type, over value deciles of
    the REFERENCE — with an injected 3x shift for the 'error' type
    that must read drifted (PSI >> 0.25) while every untouched type
    reads stable at the driver SF (error 0.85 vs <=0.03 noise at
    sf0.01). Keyed on event_type (~1000 rows per side per key at
    sf0.01) because PSI's noise floor is ~(B-1)/n — the first draft
    keyed on 25-doc sources and EVERYTHING read drifted, pure sampling
    noise; even at sf0.001's 60-row slices two untouched types brush
    the 0.25 line (NOTES r7 — sizing the key granularity to the noise
    floor is part of using PSI, so the docstring says so). Blocks of 16 decorrelate the split from any
    small-modulus column pattern. Additive 0.5-smoothing keeps empty
    buckets finite and engine-replayable; the only data-sized work is
    one keyed bucket count per snapshot. Per-type PSI AND the drift
    verdicts are all in the hash."""
    from ..operators.drift import distribution_psi

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    block = (F.col("event_id") / 16).cast("long") % 2
    ref = ev.filter(block == 0).select("event_type", "value")
    cur = ev.filter(block == 1).select(
        "event_type",
        F.when(F.col("event_type") == "error", F.col("value") * 3)
        .otherwise(F.col("value")).alias("value"))
    return distribution_psi(ref, cur, ["event_type"], "value")


@query("diag_profile_columns", oracle="""
SELECT 'doc_id' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
  round(CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 6) AS null_frac,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
  CAST(MIN(doc_id) AS VARCHAR) AS min_str, CAST(MAX(doc_id) AS VARCHAR) AS max_str,
  COUNT(DISTINCT doc_id) <= 1 AS is_constant FROM documents
UNION ALL
SELECT 'text' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
  round(CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 6) AS null_frac,
  CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct,
  CAST(MIN(text) AS VARCHAR) AS min_str, CAST(MAX(text) AS VARCHAR) AS max_str,
  COUNT(DISTINCT text) <= 1 AS is_constant FROM documents
UNION ALL
SELECT 'lang' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
  round(CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 6) AS null_frac,
  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_distinct,
  CAST(MIN(lang) AS VARCHAR) AS min_str, CAST(MAX(lang) AS VARCHAR) AS max_str,
  COUNT(DISTINCT lang) <= 1 AS is_constant FROM documents
UNION ALL
SELECT 'source' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
  round(CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 6) AS null_frac,
  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_distinct,
  CAST(MIN(source) AS VARCHAR) AS min_str, CAST(MAX(source) AS VARCHAR) AS max_str,
  COUNT(DISTINCT source) <= 1 AS is_constant FROM documents
UNION ALL
SELECT 'n_chars' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
  round(CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 6) AS null_frac,
  CAST(COUNT(DISTINCT n_chars) AS BIGINT) AS n_distinct,
  CAST(MIN(n_chars) AS VARCHAR) AS min_str, CAST(MAX(n_chars) AS VARCHAR) AS max_str,
  COUNT(DISTINCT n_chars) <= 1 AS is_constant FROM documents
""")
def diag_profile_columns(spark, sf_dir):
    """One-pass table profiling (`profile_columns`, operators/profile.py):
    null rates, EXACT cardinalities, value ranges, and dead-column
    flags for every documents column in a single aggregation (the
    multi-column exact distincts share one Expand shuffle — Spark's
    standard strategy; no per-column scans, no driver loops), pivoted
    to long format with stack over the 1-row aggregate. The ingest
    census run before trusting a new data drop. Oracle replays each
    column's stats as a UNION ALL; every cell hash-checked."""
    from ..operators.profile import profile_columns

    return profile_columns(load(spark, sf_dir, "documents"))


@query("diag_categorical_psi", oracle="""
WITH ref AS (SELECT lang, event_cat FROM (
    SELECT d.lang, CASE WHEN d.doc_id % 3 = 0 THEN 'code'
                        WHEN d.doc_id % 3 = 1 THEN 'web' ELSE 'book' END
             AS event_cat, d.doc_id
    FROM documents d) WHERE (doc_id // 16) % 2 = 0),
cur AS (SELECT lang, CASE WHEN lang = 'en' AND event_cat = 'book'
                          THEN 'web' ELSE event_cat END AS event_cat
        FROM (SELECT d.lang, CASE WHEN d.doc_id % 3 = 0 THEN 'code'
                                  WHEN d.doc_id % 3 = 1 THEN 'web'
                                  ELSE 'book' END AS event_cat, d.doc_id
              FROM documents d) WHERE (doc_id // 16) % 2 = 1),
ra AS (SELECT lang, event_cat, COUNT(*) AS na FROM ref GROUP BY 1, 2),
rb AS (SELECT lang, event_cat, COUNT(*) AS nb FROM cur GROUP BY 1, 2),
cells AS (SELECT COALESCE(ra.lang, rb.lang) AS lang,
            COALESCE(ra.event_cat, rb.event_cat) AS event_cat,
            COALESCE(ra.na, 0) AS na, COALESCE(rb.nb, 0) AS nb
          FROM ra FULL OUTER JOIN rb
            ON ra.lang = rb.lang AND ra.event_cat = rb.event_cat),
tot AS (SELECT lang, SUM(na) AS ta, SUM(nb) AS tb, COUNT(*) AS nc
        FROM cells GROUP BY lang)
SELECT c.lang, CAST(MAX(t.ta) AS BIGINT) AS n_ref,
       CAST(MAX(t.tb) AS BIGINT) AS n_cur,
       CAST(MAX(t.nc) AS BIGINT) AS n_categories,
       round(SUM(((c.nb + 0.5) / (t.tb + 0.5 * t.nc)
                  - (c.na + 0.5) / (t.ta + 0.5 * t.nc))
                 * ln(((c.nb + 0.5) / (t.tb + 0.5 * t.nc))
                      / ((c.na + 0.5) / (t.ta + 0.5 * t.nc)))), 6) AS psi,
       (round(SUM(((c.nb + 0.5) / (t.tb + 0.5 * t.nc)
                  - (c.na + 0.5) / (t.ta + 0.5 * t.nc))
                 * ln(((c.nb + 0.5) / (t.tb + 0.5 * t.nc))
                      / ((c.na + 0.5) / (t.ta + 0.5 * t.nc)))), 6) > 0.25)
         OR MAX(t.tb) = 0 AS drifted
FROM cells c JOIN tot t ON c.lang = t.lang
GROUP BY c.lang
""")
def diag_categorical_psi(spark, sf_dir):
    """Categorical-mix drift (`categorical_psi`, operators/drift.py):
    per language, the synthetic category mix (code/web/book from
    doc_id) compared across the two id blocks, with an injected
    book->web relabeling for 'en' that must read drifted while other
    languages stay stable. Categories ARE the buckets (universe =
    union of both snapshots, full-outer join), so appearing/vanishing
    categories contribute like any shift; same smoothing and noise-
    floor caveats as the numeric PSI. Per-language PSI, category
    counts, and verdicts all hash-checked."""
    from ..operators.drift import categorical_psi

    docs = load(spark, sf_dir, "documents")
    cat = (
        F.when(F.col("doc_id") % 3 == 0, "code")
        .when(F.col("doc_id") % 3 == 1, "web").otherwise("book"))
    block = (F.col("doc_id") / 16).cast("long") % 2
    base = docs.select("doc_id", "lang", cat.alias("event_cat"))
    ref = base.filter(block == 0).select("lang", "event_cat")
    cur = base.filter(block == 1).select(
        "lang",
        F.when((F.col("lang") == "en") & (F.col("event_cat") == "book"),
               "web").otherwise(F.col("event_cat")).alias("event_cat"))
    return categorical_psi(ref, cur, ["lang"], "event_cat")


@query("join_asof_directions", oracle="""
WITH f AS (
  SELECT l.o_orderkey AS lk, r.o_orderkey AS rk
  FROM orders l LEFT JOIN orders r
    ON l.o_custkey = r.o_custkey AND r.o_orderdate > l.o_orderdate
  QUALIFY row_number() OVER (PARTITION BY l.o_orderkey
    ORDER BY r.o_orderdate ASC NULLS LAST, r.o_orderkey DESC) = 1),
b AS (
  SELECT l.o_orderkey AS lk, r.o_orderkey AS rk
  FROM orders l LEFT JOIN orders r
    ON l.o_custkey = r.o_custkey AND r.o_orderdate < l.o_orderdate
  QUALIFY row_number() OVER (PARTITION BY l.o_orderkey
    ORDER BY r.o_orderdate DESC NULLS LAST, r.o_orderkey DESC) = 1),
g AS (
  SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
    f.rk AS fwd, b.rk AS back,
    abs(epoch_us(o.o_orderdate)
        - epoch_us((SELECT o2.o_orderdate FROM orders o2
                    WHERE o2.o_orderkey = f.rk))) / 1000000.0 AS gf,
    abs(epoch_us(o.o_orderdate)
        - epoch_us((SELECT o2.o_orderdate FROM orders o2
                    WHERE o2.o_orderkey = b.rk))) / 1000000.0 AS gb
  FROM orders o JOIN f ON o.o_orderkey = f.lk JOIN b ON o.o_orderkey = b.lk),
n AS (
  SELECT o_orderkey, fwd, back,
    CASE WHEN back IS NULL THEN fwd WHEN fwd IS NULL THEN back
         WHEN gf < gb THEN fwd ELSE back END AS near,
    CASE WHEN back IS NULL THEN gf WHEN fwd IS NULL THEN gb
         WHEN gf < gb THEN gf ELSE gb END AS ng
  FROM g)
SELECT o_orderkey, fwd AS next_orderkey, near AS nearest_orderkey,
  CASE WHEN ng <= 2592000.0 THEN near END AS nearest_orderkey_30d
FROM n
""")
def join_asof_directions(spark, sf_dir):
    """Directional as-of joins (`asof_join(direction=...)`,
    operators/asof.py — pandas merge_asof parity): each order matched
    to the same customer's NEXT order (forward, strict), its NEAREST
    other order (ties to backward, pandas' rule), and the nearest
    within a 30-day tolerance. Forward is the union-and-carry plan
    over the REVERSED in-partition order — still exactly one shuffle;
    nearest's two passes share the exchange. The oracle replays each
    direction as a QUALIFY argmin/argmax with the same
    largest-tiebreak tie rule; all three match columns are in the
    hash."""
    from ..operators.asof import asof_join

    orders = load(spark, sf_dir, "orders")
    left = orders.select("o_orderkey", "o_custkey", "o_orderdate")
    right = orders.select(
        F.col("o_custkey").alias("r_custkey"),
        F.col("o_orderdate").alias("r_date"),
        F.col("o_orderkey").alias("r_orderkey"),
    ).withColumnRenamed("r_custkey", "o_custkey")

    def run(direction, tolerance=None):
        out = asof_join(
            left, right, ["o_custkey"], "o_orderdate", "r_date",
            tiebreak="r_orderkey", strict=True, direction=direction,
            tolerance=tolerance)
        return out.select("o_orderkey", "r_orderkey")

    fwd = run("forward").withColumnRenamed("r_orderkey", "next_orderkey")
    near = run("nearest").withColumnRenamed("r_orderkey", "nearest_orderkey")
    near_tol = run("nearest", tolerance=30 * 24 * 3600).withColumnRenamed(
        "r_orderkey", "nearest_orderkey_30d")
    return fwd.join(near, "o_orderkey").join(near_tol, "o_orderkey")


@query("agg_robust_stats", oracle="""
WITH e AS (SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
           WHERE value IS NOT NULL),
m AS (SELECT event_type, quantile_cont(v, 0.5) AS med
      FROM e GROUP BY event_type),
d AS (SELECT e.event_type, e.v, m.med
      FROM e JOIN m ON e.event_type = m.event_type),
a AS (SELECT event_type, quantile_cont(abs(v - med), 0.5) AS mad
      FROM d GROUP BY event_type)
SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
       round(MAX(d.med), 6) AS median, round(MAX(a.mad), 6) AS mad,
       CAST(SUM(CASE WHEN abs(d.v - d.med) > 3.0 * 1.4826 * a.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(SUM(CASE WHEN abs(d.v - d.med) > 3.0 * 1.4826 * a.mad
                      THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
         AS frac_outliers
FROM d JOIN a ON d.event_type = a.event_type
GROUP BY d.event_type
""")
def agg_robust_stats(spark, sf_dir):
    """Robust per-group statistics (`robust_stats`, operators/robust.py):
    median, MAD, and the MAD-scaled (|x - med| > 3 * 1.4826 * mad)
    outlier rate per event type — the diagnostics heavy tails can't
    drown, exact via interpolated percentiles (the quantile_cont
    convention the percentile gates pin). Exact MAD inherently needs a
    second median-dependent pass; three keyed aggregates total, per-key
    stats broadcast back between passes (the KMV sketch is the one-pass
    approximate twin). Every stat and count hash-checked."""
    from ..operators.robust import robust_stats

    ev = load(spark, sf_dir, "events")
    return robust_stats(ev, ["event_type"], "value")


@query("agg_quantile_normalize", oracle="""
WITH e AS (SELECT event_type, event_id, CAST(value AS DOUBLE) AS v
           FROM events WHERE value IS NOT NULL),
g AS (SELECT quantile_cont(v, [0.0, 0.05, 0.1, 0.15, 0.2, 0.25, 0.3, 0.35, 0.4, 0.45, 0.5, 0.55, 0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9, 0.95, 1.0]) AS grid FROM e),
r AS (SELECT event_type, event_id, v,
        rank() OVER (PARTITION BY event_type ORDER BY v) AS rk,
        COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM e),
p AS (SELECT event_type, event_id,
        CASE WHEN n > 1 THEN (rk - 1) / CAST(n - 1 AS DOUBLE)
             ELSE 0.0 END AS p
      FROM r),
sel AS (SELECT event_type, event_id, p,
          LEAST(CAST(floor(p * 20) AS INT), 19) AS cell
        FROM p)
SELECT s.event_type, s.event_id, round(s.p, 6) AS pct_in_group,
  round(g.grid[s.cell + 1]
        + (g.grid[s.cell + 2] - g.grid[s.cell + 1])
          * (s.p * 20 - s.cell), 6) AS value_normalized
FROM sel s, g
""")
def agg_quantile_normalize(spark, sf_dir):
    """Cross-group quantile normalization (`quantile_normalize`,
    operators/robust.py): every event value maps to the GLOBAL value
    at its within-type percentile — the score-alignment step before a
    global quality threshold, so a lenient scorer's 0.7 and a harsh
    one's 0.4 gate the same fraction of their domains. Within-group
    rank percentiles (ties share rank — deterministic), a 21-point
    exact global percentile grid (one aggregate, one bounded collect,
    ships as ONE array literal), scan-local linear interpolation. The
    oracle replays rank, grid, cell, and interpolation; the full
    normalized series is in the hash."""
    from ..operators.robust import quantile_normalize

    ev = load(spark, sf_dir, "events")
    return quantile_normalize(ev, ["event_type"], "value").select(
        "event_type", "event_id", "pct_in_group", "value_normalized")


@query("agg_group_ols", oracle="""
WITH s AS (SELECT user_id, COUNT(*) AS n,
         SUM(CAST(event_id AS DECIMAL(28,12))) AS sx,
         SUM(CAST(value AS DECIMAL(28,12))) AS sy,
         SUM(CAST(event_id * event_id AS DECIMAL(28,12))) AS sxx,
         SUM(CAST(event_id * value AS DECIMAL(28,12))) AS sxy
       FROM events WHERE value IS NOT NULL GROUP BY user_id)
SELECT user_id, CAST(n AS BIGINT) AS n,
  round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / NULLIF(n * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0), 6)
    AS slope,
  round((CAST(sy AS DOUBLE)
         - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / NULLIF(n * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0))
           * CAST(sx AS DOUBLE)) / n, 6) AS intercept
FROM s
""")
def agg_group_ols(spark, sf_dir):
    """Per-group closed-form least-squares trend (value ~ event_id per
    user): ONE keyed aggregation collects the five OLS sufficient
    statistics (n, Sx, Sy, Sxx, Sxy) with decimal-snapped sums — exact
    and partitioning/order independent — then slope/intercept derive
    arithmetically. This is how per-entity trend fitting works at
    100 TB: no per-group solver, no collect, just sums that partial-
    aggregate map-side; a degenerate group (single x) yields NULL via
    the zero-denominator guard. Slope AND intercept hash-checked per
    user."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    dec = "decimal(28,12)"
    s = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("event_id").cast(dec)).alias("sx"),
        F.sum(F.col("value").cast(dec)).alias("sy"),
        F.sum((F.col("event_id") * F.col("event_id")).cast(dec))
        .alias("sxx"),
        F.sum((F.col("event_id") * F.col("value")).cast(dec))
        .alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    den = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / F.when(den != 0, den)
    return s.select(
        "user_id", n.cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


@query("agg_group_corr", oracle="""
WITH s AS (SELECT user_id, COUNT(*) AS n,
         SUM(CAST(event_id AS DECIMAL(28,12))) AS sx,
         SUM(CAST(value AS DECIMAL(28,12))) AS sy,
         SUM(CAST(event_id * event_id AS DECIMAL(28,12))) AS sxx,
         SUM(CAST(value * value AS DECIMAL(28,12))) AS syy,
         SUM(CAST(event_id * value AS DECIMAL(28,12))) AS sxy
       FROM events WHERE value IS NOT NULL GROUP BY user_id)
SELECT user_id, CAST(n AS BIGINT) AS n,
  round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / NULLIF(sqrt(n * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * sqrt(n * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0), 6)
    AS pearson_r
FROM s
""")
def agg_group_corr(spark, sf_dir):
    """Per-group Pearson correlation (value vs event_id per user) from
    the same sufficient-statistic shape as `agg_group_ols`: one keyed
    agg with decimal-snapped sums (map-side partials), correlation
    derived arithmetically — no per-group pass, no collect;
    zero-variance groups guard to NULL. 6-dp r hash-checked per
    user."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    dec = "decimal(28,12)"
    s = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("event_id").cast(dec)).alias("sx"),
        F.sum(F.col("value").cast(dec)).alias("sy"),
        F.sum((F.col("event_id") * F.col("event_id")).cast(dec))
        .alias("sxx"),
        F.sum((F.col("value") * F.col("value")).cast(dec)).alias("syy"),
        F.sum((F.col("event_id") * F.col("value")).cast(dec))
        .alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    den = (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
    r = (n * sxy - sx * sy) / F.when(den != 0, den)
    return s.select(
        "user_id", n.cast("long").alias("n"),
        F.round(r, 6).alias("pearson_r"))


@query("join_scd2", oracle="""
WITH v AS (
  SELECT c_custkey, c_mktsegment || '#v1' AS segment_v,
         TIMESTAMP '1990-01-01 00:00:00' AS vf,
         TIMESTAMP '1996-01-01 00:00:00'
           + INTERVAL (c_custkey % 730) DAY AS vt
  FROM customer
  UNION ALL
  SELECT c_custkey, c_mktsegment || '#v2',
         TIMESTAMP '1996-01-01 00:00:00'
           + INTERVAL (c_custkey % 730) DAY,
         TIMESTAMP '9999-01-01 00:00:00'
  FROM customer)
SELECT o.o_orderkey, v.segment_v
FROM orders o JOIN v
  ON o.o_custkey = v.c_custkey
 AND o.o_orderdate >= v.vf AND o.o_orderdate < v.vt
""")
def join_scd2(spark, sf_dir):
    """SCD type-2 temporal dimension join (`scd2_join`,
    operators/asof.py): every customer gets two synthesized dimension
    versions split at a per-key cutoff date; each order must enrich
    with the version valid AT ITS ORDER DATE. One equi-join on the key
    with the half-open interval as a join-time filter — the
    history-sized fan-out never becomes a theta join, and an
    overlap/gap bug in the dimension shows up as a duplicated or
    dropped order (row count is part of the hash). Every order's
    picked version hash-checked."""
    from ..operators.asof import scd2_join

    cust = load(spark, sf_dir, "customer")
    cutoff = F.expr(
        "TIMESTAMP '1996-01-01 00:00:00'"
        " + make_interval(0, 0, 0, c_custkey % 730, 0, 0, 0)")
    v1 = cust.select(
        "c_custkey",
        F.concat(F.col("c_mktsegment"), F.lit("#v1")).alias("segment_v"),
        F.lit("1990-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        cutoff.alias("valid_to"))
    v2 = cust.select(
        "c_custkey",
        F.concat(F.col("c_mktsegment"), F.lit("#v2")).alias("segment_v"),
        cutoff.alias("valid_from"),
        F.lit("9999-01-01 00:00:00").cast("timestamp").alias("valid_to"))
    dim = v1.unionByName(v2)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"),
        "o_orderdate")
    return scd2_join(
        orders, dim, "c_custkey", "o_orderdate", how="inner"
    ).select("o_orderkey", "segment_v")


@query("agg_distribution_stats", oracle="""
WITH c AS (SELECT user_id, event_type, COUNT(*) AS cnt
           FROM events GROUP BY user_id, event_type),
m AS (SELECT user_id, MAX(cnt) AS mx FROM c GROUP BY user_id),
md AS (SELECT c.user_id, MIN(c.event_type) AS mode_type
       FROM c JOIN m ON c.user_id = m.user_id AND c.cnt = m.mx
       GROUP BY c.user_id),
s AS (SELECT user_id, SUM(cnt) AS n, COUNT(*) AS n_types,
        SUM(CAST(round(cnt * log2(cnt), 9) AS DECIMAL(20,9))) AS t
      FROM c GROUP BY user_id)
SELECT s.user_id, CAST(s.n AS BIGINT) AS n,
       CAST(s.n_types AS BIGINT) AS n_types, md.mode_type,
       round(log2(s.n) - CAST(s.t AS DOUBLE) / s.n, 6) AS entropy
FROM s JOIN md ON s.user_id = md.user_id
""")
def agg_distribution_stats(spark, sf_dir):
    """Per-group categorical distribution diagnostics — the corpus
    composition report (how diverse is each user's/source's event mix):
    count, distinct categories, deterministic MODE (max count, ties to
    the smallest category — Spark's own mode() is tie-nondeterministic,
    so this pins it via a max+min two-phase like `diag_key_skew`), and
    Shannon entropy via log2(n) − Σ c·log2(c)/n with 9-dp
    decimal-snapped terms so the sum is order-independent. Two keyed
    aggs + one category-count-sized join; no sort, no collect. All
    four stats hash-checked per user."""
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt"))
    c = c.localCheckpoint(eager=True)  # consumed by three branches
    m = c.groupBy("user_id").agg(F.max("cnt").alias("mx"))
    md = (
        c.join(m, ["user_id"])
        .filter(F.col("cnt") == F.col("mx"))
        .groupBy("user_id")
        .agg(F.min("event_type").alias("mode_type"))
    )
    term = F.round(
        F.col("cnt") * F.log2(F.col("cnt")), 9).cast("decimal(20,9)")
    s = c.groupBy("user_id").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(term).alias("t"),
    )
    return s.join(md, ["user_id"]).select(
        "user_id", "n", "n_types", "mode_type",
        F.round(
            F.log2(F.col("n")) - F.col("t").cast("double") / F.col("n"), 6
        ).alias("entropy"),
    )


@query("cohort_retention", oracle="""
WITH a AS (SELECT DISTINCT user_id AS u,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  // 7 AS INT) AS b
           FROM events WHERE ts IS NOT NULL),
f AS (SELECT u, MIN(b) AS cohort FROM a GROUP BY u),
s AS (SELECT cohort, COUNT(*) AS n_cohort FROM f GROUP BY cohort),
c AS (SELECT f.cohort, a.b - f.cohort AS age_buckets,
        COUNT(*) AS n_active
      FROM a JOIN f USING (u) GROUP BY 1, 2)
SELECT c.cohort AS cohort_bucket, CAST(c.age_buckets AS INT) AS age_buckets,
       CAST(s.n_cohort AS BIGINT) AS n_cohort,
       CAST(c.n_active AS BIGINT) AS n_active,
       round(CAST(c.n_active AS DOUBLE) / s.n_cohort, 6) AS retention_rate
FROM c JOIN s USING (cohort)
""")
def cohort_retention_q(spark, sf_dir):
    """Weekly cohort retention over the events stream
    (`cohort_retention`, operators/sessionize.py): users cohort by
    first-activity week (anchored integer day-counts, not
    date_trunc — week-start conventions differ across engines), each
    (cohort, age) cell counts retained users, rate = exact integer
    division at 6 dp. One distinct + one min + one co-keyed join +
    one count — no event self-join, nothing quadratic. The oracle
    replays bucketing, cohort assignment, and every cell."""
    from ..operators.sessionize import cohort_retention

    return cohort_retention(load(spark, sf_dir, "events"))


@query("attribution_linear", oracle="""
WITH ev AS (SELECT user_id AS u, ts, event_type AS t FROM events
            WHERE event_type IN ('purchase', 'click', 'view')),
c AS (SELECT u, ts, t,
        SUM(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END)
          OVER (PARTITION BY u ORDER BY ts
                ROWS UNBOUNDED PRECEDING) AS cc
      FROM ev),
tagged AS (SELECT u, ts, t,
        CASE WHEN t = 'purchase' THEN cc ELSE cc + 1 END AS conv
      FROM c),
grp AS (SELECT *, MAX(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END)
          OVER (PARTITION BY u, conv) AS has
        FROM tagged),
touch AS (SELECT u, conv, t,
        COUNT(*) OVER (PARTITION BY u, conv) AS n
      FROM grp WHERE t != 'purchase' AND has = 1)
SELECT t AS channel,
  CAST(COUNT(DISTINCT (u, conv)) AS BIGINT) AS n_conversions_touched,
  round(SUM(round(1.0 / n, 6)), 6) AS credit
FROM touch GROUP BY t
""")
def attribution_linear(spark, sf_dir):
    """Linear multi-touch attribution (`attribution_credit`,
    operators/sessionize.py): purchases are conversions, clicks and
    views the touchpoints — each conversion's credit splits 1/n over
    the touches since the user's previous conversion, summed per
    channel. ONE running-conversion-counter window assigns touches to
    their next conversion (no event self-join), a per-conversion
    count sizes shares, shares round before the channel sum (the
    order-independence policy). The oracle replays counter, grouping,
    trailing-touch exclusion, and every share."""
    from ..operators.sessionize import attribution_credit

    return attribution_credit(
        load(spark, sf_dir, "events"),
        conversion_type="purchase",
        touch_types=["click", "view"],
        model="linear")


@query("timeseries_zscore_anomalies", oracle="""
WITH w AS (SELECT event_type AS key, ts, value,
        COUNT(CAST(value AS DECIMAL(28,8))) OVER tw AS n,
        CAST(SUM(CAST(value AS DECIMAL(28,8))) OVER tw AS DOUBLE) AS s,
        CAST(SUM(CAST(value AS DECIMAL(28,8))
                 * CAST(value AS DECIMAL(28,8))) OVER tw AS DOUBLE) AS ss
      FROM events
      WINDOW tw AS (PARTITION BY event_type ORDER BY ts
                    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
sc AS (SELECT key, ts, value, n,
        round(s / n, 6) AS mean,
        round(sqrt(greatest((ss - s * s / n) / (n - 1), 0.0)), 6) AS std,
        round((value - s / n)
              / sqrt(greatest((ss - s * s / n) / (n - 1), 0.0)), 6)
          AS zscore
      FROM w)
SELECT key, ts, value, mean, std, zscore
FROM sc WHERE n = 20 AND std > 0 AND ABS(zscore) >= 2.5
""")
def timeseries_zscore_anomalies(spark, sf_dir):
    """Trailing-window z-score anomalies (`rolling_zscore_anomalies`,
    operators/timeseries.py): each event's value scores against the
    mean/std of its 20 PRECEDING same-type observations (current row
    excluded so outliers don't dilute their own baseline), |z| >= 2.5
    flags. Decimal-exact trailing sums make the window
    order-independent; one window per key, single exchange. The
    oracle replays frame, exclusion, sample variance, and rounding —
    every flagged row hash-checked."""
    from ..operators.timeseries import rolling_zscore_anomalies

    return rolling_zscore_anomalies(
        load(spark, sf_dir, "events"),
        key_col="event_type", ts_col="ts", value_col="value",
        window_n=20, z_thresh=2.5)


@query("timeseries_ohlc", oracle="""
SELECT event_type AS key, date_trunc('hour', ts) AS bucket_start,
  arg_min(value, ts) AS open,
  MAX(value) AS high, MIN(value) AS low,
  arg_max(value, ts) AS close,
  CAST(COUNT(*) AS BIGINT) AS n_obs
FROM events GROUP BY 1, 2
""")
def timeseries_ohlc(spark, sf_dir):
    """OHLC candlestick bars (`ohlc_bars`, operators/timeseries.py):
    per event-type hourly open/high/low/close where open and close
    are the TRUE first/last observations by timestamp via the
    struct-extremum trick — one keyed aggregation, no per-bucket
    sort, no window, single exchange. The oracle uses
    arg_min/arg_max; both only agree if the bucketing and the
    ts-ordering semantics match exactly."""
    from ..operators.timeseries import ohlc_bars

    return ohlc_bars(
        load(spark, sf_dir, "events"),
        key_col="event_type", ts_col="ts", value_col="value",
        bucket="1 hour")


@query("timeseries_twa", oracle="""
WITH l AS (SELECT event_type AS key, ts, value,
        lead(ts) OVER (PARTITION BY event_type ORDER BY ts) AS nxt,
        date_trunc('hour', ts) AS b0,
        date_trunc('hour', ts) + INTERVAL 1 HOUR AS b1
      FROM events),
c AS (SELECT key, b0 AS bucket_start,
        epoch_us(least(coalesce(nxt, b1), b1)) - epoch_us(ts) AS w,
        CAST(value AS DECIMAL(18,6)) * CAST(
          epoch_us(least(coalesce(nxt, b1), b1)) - epoch_us(ts)
          AS DECIMAL(12,0)) AS contrib
      FROM l)
SELECT key, bucket_start,
  round(CAST(SUM(contrib) AS DOUBLE) / CAST(SUM(w) AS DOUBLE), 6) AS twa,
  CAST(COUNT(*) AS BIGINT) AS n_obs
FROM c WHERE w > 0 GROUP BY key, bucket_start
""")
def timeseries_twa(spark, sf_dir):
    """Time-weighted average (`time_weighted_avg`,
    operators/timeseries.py — the TimescaleDB time_weight LOCF
    semantics): each value holds until the key's next observation,
    clipped to its hourly bucket, so irregular sampling cannot bias
    the mean toward burst periods. Integer-microsecond weights and a
    decimal-exact weighted sum make the only float op one final
    division; one lead window + one keyed agg. The oracle replays
    holding intervals, clipping, and the exact accumulation."""
    from ..operators.timeseries import time_weighted_avg

    return time_weighted_avg(
        load(spark, sf_dir, "events"),
        key_col="event_type", ts_col="ts", value_col="value",
        bucket="1 hour")


@query("funnel_latency", oracle="""
WITH s AS (SELECT user_id, MIN(ts) AS t0 FROM events
           WHERE event_type = 'signup' GROUP BY user_id),
p AS (SELECT e.user_id,
        MIN(epoch_us(e.ts) - epoch_us(s.t0)) AS lat_us
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s.t0
      GROUP BY e.user_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
  CAST(quantile_disc(lat_us, 0.5) AS BIGINT) AS p50_us,
  CAST(quantile_disc(lat_us, 0.9) AS BIGINT) AS p90_us,
  CAST(MIN(lat_us) AS BIGINT) AS min_us,
  CAST(MAX(lat_us) AS BIGINT) AS max_us
FROM p
""")
def funnel_latency(spark, sf_dir):
    """Funnel time-to-convert percentiles — the latency half of
    `funnel_conversion`: per user, the gap from FIRST signup to the
    FIRST subsequent purchase, summarized as exact discrete
    percentiles (integer microseconds end to end, so the quantiles
    are exact order statistics — no interpolation to disagree on).
    Two keyed aggs + one user-keyed join; the global summary is one
    final single-row agg."""
    ev = load(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id").agg(F.min("ts").alias("t0"))
    )
    lat = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min(
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("t0").cast("timestamp"))
        ).alias("lat_us"))
    )
    return lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.percentile_approx("lat_us", 0.5, 2147483647).cast("long")
        .alias("p50_us"),
        F.percentile_approx("lat_us", 0.9, 2147483647).cast("long")
        .alias("p90_us"),
        F.min("lat_us").cast("long").alias("min_us"),
        F.max("lat_us").cast("long").alias("max_us"),
    )


@query("diag_benford", oracle="""
WITH v AS (SELECT value FROM events
           WHERE value IS NOT NULL AND ABS(value) >= 1e-12),
d AS (SELECT CAST(substr(CAST(ABS(value) AS VARCHAR), 1, 1) AS INT)
        AS digit
      FROM v
      WHERE substr(CAST(ABS(value) AS VARCHAR), 1, 1)
            BETWEEN '1' AND '9'),
cnt AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
tot AS (SELECT SUM(n) AS t FROM cnt),
g AS (SELECT gd.digit, COALESCE(cnt.n, 0) AS n, tot.t,
        round(ln(1.0 + 1.0 / gd.digit) / ln(10.0), 9) AS expected_p
      FROM (SELECT range + 1 AS digit FROM range(0, 9)) gd
      LEFT JOIN cnt ON gd.digit = cnt.digit CROSS JOIN tot)
SELECT digit, CAST(n AS BIGINT) AS n,
  round(CAST(n AS DOUBLE) / t, 6) AS observed_p,
  round(expected_p, 6) AS expected_p,
  round(POWER(n - t * expected_p, 2) / (t * expected_p), 6)
    AS chi2_term
FROM g
""")
def diag_benford(spark, sf_dir):
    """Benford's-law first-digit audit — the classic fabricated-data
    detector (accounting forensics; data-quality teams run it on
    metric columns): the leading significant digit of every event
    value against the log10(1 + 1/d) expectation, with per-digit
    chi-square terms (sum them and compare to the chi2(8) critical
    value downstream). Digit extraction is string-based on the
    absolute value — IDENTICAL in both engines by construction (no
    log/floor edge cases at powers of ten); expected probabilities
    round at 9 dp before the chi-square arithmetic so every term
    replays. One scan + one 9-row aggregate."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.abs("value") >= 1e-12))
    digit = F.substring(
        F.abs(F.col("value")).cast("string"), 1, 1).cast("int")
    cnt = (
        ev.select(digit.alias("digit"))
        .filter(F.col("digit").between(1, 9))
        .groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cnt.agg(F.sum("n").alias("t"))
    grid = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    exp_p = F.round(
        F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0)), 9)
    return (
        grid.join(cnt, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            F.col("t"), exp_p.alias("__e"))
        .select(
            "digit", "n",
            F.round(F.col("n").cast("double") / F.col("t"), 6)
            .alias("observed_p"),
            F.round(F.col("__e"), 6).alias("expected_p"),
            F.round(
                F.pow(F.col("n") - F.col("t") * F.col("__e"), 2)
                / (F.col("t") * F.col("__e")), 6).alias("chi2_term"),
        )
    )


@query("diag_ks_test", oracle="""
WITH b AS (SELECT event_type, value,
        CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ia
      FROM events WHERE value IS NOT NULL),
c AS (SELECT event_type, value, ia,
        SUM(ia) OVER (PARTITION BY event_type ORDER BY value
          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        SUM(1 - ia) OVER (PARTITION BY event_type ORDER BY value
          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        SUM(ia) OVER (PARTITION BY event_type) AS na,
        SUM(1 - ia) OVER (PARTITION BY event_type) AS nb
      FROM b)
SELECT event_type,
  CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
  round(CAST(MAX(ABS(ca * nb - cb * na)) AS DOUBLE)
        / (MAX(na) * MAX(nb)), 6) AS ks_stat
FROM c WHERE na > 0 AND nb > 0
GROUP BY event_type
""")
def diag_ks_test(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov drift test (`ks_two_sample`,
    operators/drift.py) — per event type, even-user values vs
    odd-user values: the distribution-free complement to PSI (no
    bucket grid to choose). Pure integer ECDF arithmetic with
    RANGE-frame tie handling; one division at the end, so the
    statistic replays exactly. Five rows out, every one
    hash-checked against the windowed SQL replay."""
    from ..operators.drift import ks_two_sample

    return ks_two_sample(
        load(spark, sf_dir, "events"),
        group_col=(F.col("user_id") % 2 == 0),
        value_col="value",
        key_cols=["event_type"])


@query("basket_association_rules", oracle="""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM items),
cnt AS (SELECT l_partkey, COUNT(*) AS c FROM items GROUP BY l_partkey),
pairs AS (SELECT i1.l_partkey AS part_a, i2.l_partkey AS part_b,
         COUNT(*) AS c_ab
       FROM items i1 JOIN items i2 ON i1.l_orderkey = i2.l_orderkey
       WHERE i1.l_partkey < i2.l_partkey
       GROUP BY i1.l_partkey, i2.l_partkey
       HAVING COUNT(*) >= 2),
sc AS (SELECT p.part_a, p.part_b, p.c_ab AS pair_orders,
         round(CAST(p.c_ab AS DOUBLE) / nb.n, 6) AS support,
         round(CAST(p.c_ab AS DOUBLE) / ca.c, 6) AS conf_a_to_b,
         round(CAST(p.c_ab AS DOUBLE) / cb.c, 6) AS conf_b_to_a,
         round(CAST(p.c_ab * nb.n AS DOUBLE) / (ca.c * cb.c), 6) AS lift
       FROM pairs p
       JOIN cnt ca ON ca.l_partkey = p.part_a
       JOIN cnt cb ON cb.l_partkey = p.part_b
       CROSS JOIN nb)
SELECT part_a, part_b, pair_orders, support,
       conf_a_to_b, conf_b_to_a, lift
FROM sc ORDER BY lift DESC, part_a, part_b LIMIT 20
""")
def basket_association_rules(spark, sf_dir):
    """Market-basket association rules (Agrawal & Srikant 1994 support/
    confidence/lift, pair level) over co-ordered parts: the
    recommendation / bundling primitive. The pair self-join is keyed on
    the basket id, so it shuffles once on `l_orderkey` and the quadratic
    term is bounded by lines-per-order (TPC-H <= 7; any real basket is
    similarly bounded) — never corpus-quadratic. Counts stay integers
    until the three final divisions (support / confidence both ways /
    lift), each bit-identical across engines before the 6-dp round;
    top-20 by lift with full tie-break ordering."""
    li = load(spark, sf_dir, "lineitem")
    # the distinct item set feeds FOUR consumers (pair self-join twice,
    # item counts, basket count) — materialize it once or every branch
    # pays the scan+distinct shuffle again (sf1 rehearsal: 21.5 -> 10.2s)
    items = (li.select("l_orderkey", "l_partkey").distinct()
             .localCheckpoint(eager=True))
    n_baskets = items.agg(
        F.count_distinct("l_orderkey").alias("n"))
    cnt = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    i2 = items.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pairs = (
        items.withColumnRenamed("l_partkey", "part_a")
        .join(i2, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 2)
    )
    ca = cnt.select(F.col("l_partkey").alias("part_a"),
                    F.col("c").alias("__ca"))
    cb = cnt.select(F.col("l_partkey").alias("part_b"),
                    F.col("c").alias("__cb"))
    scored = (
        pairs.join(ca, "part_a").join(cb, "part_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "part_a", "part_b",
            F.col("c_ab").alias("pair_orders"),
            F.round(F.col("c_ab").cast("double") / F.col("n"), 6)
            .alias("support"),
            F.round(F.col("c_ab").cast("double") / F.col("__ca"), 6)
            .alias("conf_a_to_b"),
            F.round(F.col("c_ab").cast("double") / F.col("__cb"), 6)
            .alias("conf_b_to_a"),
            F.round((F.col("c_ab") * F.col("n")).cast("double")
                    / (F.col("__ca") * F.col("__cb")), 6).alias("lift"),
        )
    )
    return scored.orderBy(
        F.desc("lift"), F.asc("part_a"), F.asc("part_b")).limit(20)


@query("customer_rfm", oracle="""
WITH cust AS (SELECT o_custkey,
    MAX(CAST(o_orderdate AS DATE)) AS last_d,
    COUNT(*) AS n_orders,
    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS monetary_dec,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey),
ref AS (SELECT MAX(last_d) AS ref_d FROM cust),
feat AS (SELECT c.*, date_diff('day', c.last_d, ref.ref_d) AS rec
  FROM cust c CROSS JOIN ref),
q AS (SELECT
    quantile_cont(rec, 0.2) AS r20, quantile_cont(rec, 0.4) AS r40,
    quantile_cont(rec, 0.6) AS r60, quantile_cont(rec, 0.8) AS r80,
    quantile_cont(n_orders, 0.2) AS f20, quantile_cont(n_orders, 0.4) AS f40,
    quantile_cont(n_orders, 0.6) AS f60, quantile_cont(n_orders, 0.8) AS f80,
    quantile_cont(monetary, 0.2) AS m20, quantile_cont(monetary, 0.4) AS m40,
    quantile_cont(monetary, 0.6) AS m60, quantile_cont(monetary, 0.8) AS m80
  FROM feat),
scored AS (SELECT
    6 - (1 + CAST(rec > r20 AS INT) + CAST(rec > r40 AS INT)
           + CAST(rec > r60 AS INT) + CAST(rec > r80 AS INT)) AS r_score,
    1 + CAST(n_orders > f20 AS INT) + CAST(n_orders > f40 AS INT)
      + CAST(n_orders > f60 AS INT) + CAST(n_orders > f80 AS INT) AS f_score,
    1 + CAST(monetary > m20 AS INT) + CAST(monetary > m40 AS INT)
      + CAST(monetary > m60 AS INT) + CAST(monetary > m80 AS INT) AS m_score,
    monetary_dec
  FROM feat CROSS JOIN q)
SELECT r_score, f_score, m_score,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  round(CAST(SUM(monetary_dec) AS DOUBLE) / COUNT(*), 6) AS avg_monetary
FROM scored GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
""")
def customer_rfm(spark, sf_dir):
    """RFM segmentation (Hughes 1994) over purchasers: recency /
    frequency / monetary quintile scores assigned from EXACT
    interpolated quintile cutpoints — NOT a global `ntile` window, which
    would funnel every customer through one task; the cutpoints are one
    bounded aggregate broadcast back, so scoring stays embarrassingly
    parallel at any scale. Score 5 = best (most recent, most frequent,
    highest spend). Output is the segment-level rollup: customer count
    and exact-decimal average spend per (r, f, m) cell. Cutpoint
    comparisons are double-exact on both engines (`F.percentile` ==
    `quantile_cont`, the proven pair from `agg_percentiles_exact`)."""
    orders = load(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(dec("o_totalprice")).alias("monetary_dec"),
        F.sum(dec("o_totalprice")).cast("double").alias("monetary"),
    )
    ref = cust.agg(F.max("last_d").alias("ref_d"))
    feat = cust.crossJoin(F.broadcast(ref)).withColumn(
        "rec", F.datediff(F.col("ref_d"), F.col("last_d")))
    qs = F.lit([0.2, 0.4, 0.6, 0.8])
    quints = feat.agg(
        F.percentile(F.col("rec").cast("double"), qs).alias("__qr"),
        F.percentile(F.col("n_orders").cast("double"), qs).alias("__qf"),
        F.percentile(F.col("monetary"), qs).alias("__qm"),
    )

    def _quint(metric, grid):
        s = F.lit(1)
        for i in range(1, 5):
            s = s + (metric > F.element_at(F.col(grid), i)).cast("int")
        return s

    scored = feat.crossJoin(F.broadcast(quints)).select(
        (F.lit(6) - _quint(F.col("rec"), "__qr")).alias("r_score"),
        _quint(F.col("n_orders"), "__qf").alias("f_score"),
        _quint(F.col("monetary"), "__qm").alias("m_score"),
        "monetary_dec",
    )
    n = F.count(F.lit(1))
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(n.cast("long").alias("n_customers"),
             F.round(F.sum("monetary_dec").cast("double") / n, 6)
             .alias("avg_monetary"))
        .orderBy("r_score", "f_score", "m_score")
    )


@query("diag_chi_square", oracle="""
WITH base AS (SELECT event_type AS r, user_id % 4 AS c FROM events
              WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
cells AS (SELECT r, c, COUNT(*) AS o FROM base GROUP BY r, c),
rt AS (SELECT r, SUM(o) AS rt FROM cells GROUP BY r),
ct AS (SELECT c, SUM(o) AS ct FROM cells GROUP BY c),
tot AS (SELECT SUM(o) AS n, COUNT(DISTINCT r) AS nr,
               COUNT(DISTINCT c) AS nc FROM cells),
j AS (SELECT cells.o, rt.rt, ct.ct, tot.n, tot.nr, tot.nc,
        CAST(round((cells.o - rt.rt * ct.ct / tot.n)
                   * (cells.o - rt.rt * ct.ct / tot.n)
                   / (rt.rt * ct.ct / tot.n), 9) AS DECIMAL(28,9)) AS term
      FROM cells JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN tot)
SELECT CAST(MAX(n) AS BIGINT) AS n,
  CAST(MAX(nr) AS INT) AS n_row_levels,
  CAST(MAX(nc) AS INT) AS n_col_levels,
  CAST((MAX(nr) - 1) * (MAX(nc) - 1) AS INT) AS dof,
  round(CAST(SUM(term) AS DOUBLE), 6) AS chi2,
  round(sqrt(round(CAST(SUM(term) AS DOUBLE), 6)
             / (MAX(n) * (least(MAX(nr), MAX(nc)) - 1))), 6) AS cramers_v
FROM j
""")
def diag_chi_square(spark, sf_dir):
    """Chi-square independence test (`chi_square_independence`,
    operators/drift.py) — is event type independent of the user
    cohort (user_id mod 4)? Observed counts and totals are integers;
    each cell term snaps to 9-dp decimal before the exact sum, so χ²
    and Cramér's V replay bit-for-bit."""
    from ..operators.drift import chi_square_independence

    return chi_square_independence(
        load(spark, sf_dir, "events"),
        row_col="event_type",
        col_col=F.col("user_id") % 4)


@query("diag_mann_whitney", oracle="""
WITH base AS (SELECT event_type, value AS v,
        CAST(user_id % 2 = 0 AS INT) AS ia
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
rk AS (SELECT event_type, v, ia,
        RANK() OVER (PARTITION BY event_type ORDER BY v) AS r,
        COUNT(*) OVER (PARTITION BY event_type, v) AS t
      FROM base),
agg AS (SELECT event_type,
        SUM(ia) AS na, SUM(1 - ia) AS nb,
        SUM(ia * (2 * r + t - 1)) AS r2a,
        SUM(t * t - 1) AS ties
      FROM rk GROUP BY event_type)
SELECT event_type, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
  r2a / 2.0 - (na * (na + 1)) / 2.0 AS u_stat,
  round((r2a / 2.0 - (na * (na + 1)) / 2.0
         - CAST(na * nb AS DOUBLE) / 2.0)
        / sqrt(CAST(na * nb AS DOUBLE) / 12.0
               * (CAST(na + nb + 1 AS DOUBLE)
                  - CAST(ties AS DOUBLE)
                    / ((na + nb) * (na + nb - 1)))), 6) AS z
FROM agg WHERE na > 0 AND nb > 0
""")
def diag_mann_whitney(spark, sf_dir):
    """Mann-Whitney U rank-sum test (`mann_whitney_u`,
    operators/drift.py) — per event type, even-user values vs
    odd-user values, the stochastic-dominance complement to
    `diag_ks_test` on the same split. Midranks, U, and the tie
    correction are integer-exact; only the final z divides floats."""
    from ..operators.drift import mann_whitney_u

    return mann_whitney_u(
        load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull()),
        group_col=(F.col("user_id") % 2 == 0),
        value_col="value",
        key_cols=["event_type"])


@query("agg_gini", oracle="""
WITH cust AS (SELECT c.c_mktsegment, o.o_custkey,
        CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) * 100
             AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, o.o_custkey),
rk AS (SELECT c_mktsegment, cents,
        ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                           ORDER BY cents, o_custkey) AS i
      FROM cust),
agg AS (SELECT c_mktsegment,
        CAST(COUNT(*) AS BIGINT) AS n_customers,
        SUM(cents) AS sc, SUM(i * cents) AS sic
      FROM rk GROUP BY c_mktsegment)
SELECT c_mktsegment, n_customers,
  round(CAST(sc AS DOUBLE) / 100, 2) AS total_spend,
  round(CAST(2 * sic - (n_customers + 1) * sc AS DOUBLE)
        / CAST(n_customers * sc AS DOUBLE), 6) AS gini
FROM agg ORDER BY c_mktsegment
""")
def agg_gini(spark, sf_dir):
    """Gini coefficient of customer spend per market segment — the
    inequality / concentration audit (how top-heavy is each segment's
    revenue?). Spend converts to integer CENTS up front, so the sorted
    index-weighted sums stay exact integers and the closed form
    ``G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx)`` divides exactly once.
    The rank window is per-segment (one exchange); ties order by
    customer key, fully deterministic."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    spend = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg((F.sum(dec("o_totalprice")) * 100).cast("long")
             .alias("cents"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy("cents", "o_custkey")
    rk = spend.select("c_mktsegment", "cents",
                      F.row_number().over(w).alias("i"))
    n = F.count(F.lit(1)).cast("long")
    return (
        rk.groupBy("c_mktsegment")
        .agg(n.alias("n_customers"),
             F.sum("cents").alias("__sc"),
             F.sum(F.col("i") * F.col("cents")).alias("__sic"))
        .select(
            "c_mktsegment", "n_customers",
            F.round(F.col("__sc").cast("double") / 100, 2)
            .alias("total_spend"),
            F.round(
                (2 * F.col("__sic")
                 - (F.col("n_customers") + 1) * F.col("__sc"))
                .cast("double")
                / (F.col("n_customers") * F.col("__sc")).cast("double"),
                6).alias("gini"),
        )
        .orderBy("c_mktsegment")
    )


@query("agg_winsorize", oracle="""
WITH base AS (SELECT c_mktsegment, CAST(c_acctbal AS DOUBLE) AS x
              FROM customer),
q AS (SELECT c_mktsegment,
        quantile_cont(x, 0.05) AS lo, quantile_cont(x, 0.95) AS hi
      FROM base GROUP BY c_mktsegment),
cl AS (SELECT b.c_mktsegment,
        CAST(round(CASE WHEN b.x < q.lo THEN q.lo
                        WHEN b.x > q.hi THEN q.hi
                        ELSE b.x END, 9) AS DECIMAL(28,9)) AS w,
        CAST(b.x < q.lo AS INT) AS is_lo,
        CAST(b.x > q.hi AS INT) AS is_hi
      FROM base b JOIN q ON b.c_mktsegment = q.c_mktsegment)
SELECT cl.c_mktsegment,
  CAST(COUNT(*) AS BIGINT) AS n,
  round(MAX(q.lo), 6) AS p05, round(MAX(q.hi), 6) AS p95,
  CAST(SUM(is_lo) AS BIGINT) AS n_clamped_low,
  CAST(SUM(is_hi) AS BIGINT) AS n_clamped_high,
  round(CAST(SUM(w) AS DOUBLE) / COUNT(*), 6) AS winsor_mean
FROM cl JOIN q ON cl.c_mktsegment = q.c_mktsegment
GROUP BY cl.c_mktsegment ORDER BY cl.c_mktsegment
""")
def agg_winsorize(spark, sf_dir):
    """Winsorized mean of account balance per market segment — the
    outlier-robust mean (Winsor via Tukey 1962): values clamp to the
    exact [p05, p95] interpolated percentiles before averaging, so a
    single corrupt balance cannot drag the segment mean. Clamped
    values snap to 9-dp decimal before the order-free sum; the
    percentile pair is the proven `F.percentile`/`quantile_cont`
    match. Two passes by construction (the clamp needs the
    percentiles); the percentile frame is segments × 2 doubles,
    broadcast back."""
    cust = load(spark, sf_dir, "customer")
    base = cust.select(
        "c_mktsegment", F.col("c_acctbal").cast("double").alias("x"))
    q = base.groupBy("c_mktsegment").agg(
        F.percentile("x", F.lit(0.05)).alias("lo"),
        F.percentile("x", F.lit(0.95)).alias("hi"))
    w = F.round(
        F.when(F.col("x") < F.col("lo"), F.col("lo"))
        .when(F.col("x") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("x")), 9).cast("decimal(28,9)")
    cl = base.join(F.broadcast(q), "c_mktsegment").select(
        "c_mktsegment", "lo", "hi", w.alias("w"),
        (F.col("x") < F.col("lo")).cast("int").alias("is_lo"),
        (F.col("x") > F.col("hi")).cast("int").alias("is_hi"))
    n = F.count(F.lit(1))
    return (
        cl.groupBy("c_mktsegment")
        .agg(n.cast("long").alias("n"),
             F.round(F.max("lo"), 6).alias("p05"),
             F.round(F.max("hi"), 6).alias("p95"),
             F.sum("is_lo").cast("long").alias("n_clamped_low"),
             F.sum("is_hi").cast("long").alias("n_clamped_high"),
             F.round(F.sum("w").cast("double") / n, 6)
             .alias("winsor_mean"))
        .orderBy("c_mktsegment")
    )


@query("join_interval_overlap", oracle="""
WITH l AS (SELECT c_custkey, c_custkey * 10 AS lo,
        c_custkey * 10 + c_nationkey * 5 AS hi FROM customer),
r AS (SELECT s_suppkey, s_suppkey * 40 AS lo,
        s_suppkey * 40 + 100 AS hi FROM supplier)
SELECT l.c_custkey, r.s_suppkey,
  CAST(greatest(l.lo, r.lo) AS BIGINT) AS overlap_start,
  CAST(least(l.hi, r.hi) AS BIGINT) AS overlap_end
FROM l JOIN r ON l.lo <= r.hi AND r.lo <= l.hi
ORDER BY c_custkey, s_suppkey
""")
def join_interval_overlap(spark, sf_dir):
    """Interval-overlap join (`binned_interval_join`,
    operators/rangejoin.py) — synthetic customer vs supplier integer
    windows, NO equality key: both sides bin (width 64), each
    overlapping pair meets in exactly the overlap-start bin, one
    shuffle on the bin id instead of a BroadcastNestedLoopJoin
    (plan-pinned in tests/test_plans.py). The oracle is the naive
    inequality join — small enough for DuckDB, fatal at scale."""
    from ..operators.rangejoin import binned_interval_join

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") * 10).alias("l_lo"),
        (F.col("c_custkey") * 10 + F.col("c_nationkey") * 5).alias("l_hi"))
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_suppkey") * 40).alias("r_lo"),
        (F.col("s_suppkey") * 40 + 100).alias("r_hi"))
    out = binned_interval_join(
        cust, supp, "l_lo", "l_hi", "r_lo", "r_hi", bin_width=64)
    return out.select(
        "c_custkey", "s_suppkey",
        F.greatest("l_lo", "r_lo").cast("long").alias("overlap_start"),
        F.least("l_hi", "r_hi").cast("long").alias("overlap_end"),
    ).orderBy("c_custkey", "s_suppkey")


@query("diag_runs_test", oracle="""
WITH base AS (SELECT event_type, value AS v, ts, event_id FROM events
              WHERE value IS NOT NULL),
med AS (SELECT event_type, quantile_cont(v, 0.5) AS m
        FROM base GROUP BY event_type),
s AS (SELECT b.event_type, b.ts, b.event_id, b.v > med.m AS up
      FROM base b JOIN med ON b.event_type = med.event_type
      WHERE b.v != med.m),
r AS (SELECT event_type, up,
        CASE WHEN LAG(up) OVER w IS NULL OR LAG(up) OVER w != up
             THEN 1 ELSE 0 END AS nr
      FROM s WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
a AS (SELECT event_type, SUM(CAST(up AS INT)) AS na,
        SUM(CAST(NOT up AS INT)) AS nb, SUM(nr) AS runs
      FROM r GROUP BY event_type)
SELECT event_type, CAST(na AS BIGINT) AS n_above,
  CAST(nb AS BIGINT) AS n_below, CAST(runs AS BIGINT) AS n_runs,
  round((CAST(runs AS DOUBLE)
         - (CAST(2 * na * nb AS DOUBLE) / (na + nb) + 1))
        / sqrt(CAST(2 * na * nb AS DOUBLE)
               * (CAST(2 * na * nb AS DOUBLE)
                  - CAST(na + nb AS DOUBLE))
               / CAST((na + nb) * (na + nb) * (na + nb - 1)
                      AS DOUBLE)), 6) AS z
FROM a WHERE na > 0 AND nb > 0
""")
def diag_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test (`runs_test`, operators/drift.py) —
    per event type, is the time-ordered value sequence random around
    its median, or trending/oscillating? The sequence-memory
    complement to `timeseries_acf` with a yes/no z-score. Integer run
    and sign counts, exact median, one fixed double expression for
    μ/σ — replays exactly."""
    from ..operators.drift import runs_test

    return runs_test(
        load(spark, sf_dir, "events"),
        value_col="value",
        order_col=F.struct("ts", "event_id"),
        key_cols=["event_type"])


@query("diag_mutual_information", oracle="""
WITH base AS (SELECT event_type AS r, user_id % 4 AS c FROM events
              WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
cells AS (SELECT r, c, COUNT(*) AS o FROM base GROUP BY r, c),
rt AS (SELECT r, SUM(o) AS rt FROM cells GROUP BY r),
ct AS (SELECT c, SUM(o) AS ct FROM cells GROUP BY c),
tot AS (SELECT SUM(o) AS n FROM cells),
mi_t AS (SELECT SUM(CAST(round(
          cells.o * ln(CAST(cells.o * tot.n AS DOUBLE)
                       / CAST(rt.rt * ct.ct AS DOUBLE)), 9)
        AS DECIMAL(28,9))) AS s
      FROM cells JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN tot),
hr_t AS (SELECT SUM(CAST(round(rt * ln(CAST(rt AS DOUBLE)), 9)
           AS DECIMAL(28,9))) AS s FROM rt),
hc_t AS (SELECT SUM(CAST(round(ct * ln(CAST(ct AS DOUBLE)), 9)
           AS DECIMAL(28,9))) AS s FROM ct)
SELECT CAST(tot.n AS BIGINT) AS n,
  round(CAST(mi_t.s AS DOUBLE) / tot.n, 6) AS mi,
  round(ln(CAST(tot.n AS DOUBLE))
        - CAST(hr_t.s AS DOUBLE) / tot.n, 6) AS h_row,
  round(ln(CAST(tot.n AS DOUBLE))
        - CAST(hc_t.s AS DOUBLE) / tot.n, 6) AS h_col,
  round(round(CAST(mi_t.s AS DOUBLE) / tot.n, 6)
        / sqrt(round(ln(CAST(tot.n AS DOUBLE))
                     - CAST(hr_t.s AS DOUBLE) / tot.n, 6)
               * round(ln(CAST(tot.n AS DOUBLE))
                       - CAST(hc_t.s AS DOUBLE) / tot.n, 6)), 6) AS nmi
FROM tot CROSS JOIN mi_t CROSS JOIN hr_t CROSS JOIN hc_t
""")
def diag_mutual_information(spark, sf_dir):
    """Mutual information + marginal entropies between event type and
    user cohort (Shannon 1948; the nonlinear-dependence counterpart
    of `diag_chi_square` on the same contingency table) — MI in nats
    from integer cell counts with 9-dp decimal term snaps, entropies
    via ``ln n − (Σ c·ln c)/n``, NMI from the rounded components.
    Cell terms are one ln of an exact integer ratio each, so the
    whole statistic replays."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull())
    cells = ev.groupBy(
        F.col("event_type").alias("r"),
        (F.col("user_id") % 4).alias("c")
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = cells.groupBy("r").agg(F.sum("o").alias("rt"))
    ct = cells.groupBy("c").agg(F.sum("o").alias("ct"))
    tot = cells.agg(F.sum("o").alias("n"))

    def snap(c):
        return F.round(c, 9).cast("decimal(28,9)")

    mi_t = (
        cells.join(F.broadcast(rt), "r").join(F.broadcast(ct), "c")
        .crossJoin(F.broadcast(tot))
        .agg(F.sum(snap(
            F.col("o") * F.log(
                (F.col("o") * F.col("n")).cast("double")
                / (F.col("rt") * F.col("ct")).cast("double"))))
            .alias("s")))
    hr_t = rt.agg(F.sum(snap(
        F.col("rt") * F.log(F.col("rt").cast("double")))).alias("s"))
    hc_t = ct.agg(F.sum(snap(
        F.col("ct") * F.log(F.col("ct").cast("double")))).alias("s"))
    ln_n = F.log(F.col("n").cast("double"))
    mi = F.round(F.col("__mi").cast("double") / F.col("n"), 6)
    h_row = F.round(ln_n - F.col("__hr").cast("double") / F.col("n"), 6)
    h_col = F.round(ln_n - F.col("__hc").cast("double") / F.col("n"), 6)
    return (
        tot.crossJoin(F.broadcast(mi_t.select(F.col("s").alias("__mi"))))
        .crossJoin(F.broadcast(hr_t.select(F.col("s").alias("__hr"))))
        .crossJoin(F.broadcast(hc_t.select(F.col("s").alias("__hc"))))
        .select(
            F.col("n").cast("long").alias("n"),
            mi.alias("mi"),
            h_row.alias("h_row"),
            h_col.alias("h_col"),
            F.round(mi / F.sqrt(h_row * h_col), 6).alias("nmi"),
        )
    )


@query("cohort_ltv", oracle="""
WITH first AS (SELECT o_custkey,
        MIN(date_trunc('month', CAST(o_orderdate AS DATE))) AS cm
      FROM orders GROUP BY o_custkey),
sz AS (SELECT cm, COUNT(*) AS cohort_size FROM first GROUP BY cm),
rev AS (SELECT f.cm,
        (year(CAST(o.o_orderdate AS DATE)) * 12
         + month(CAST(o.o_orderdate AS DATE)))
        - (year(f.cm) * 12 + month(f.cm)) AS off,
        COUNT(*) AS n_orders,
        SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS r
      FROM orders o JOIN first f ON o.o_custkey = f.o_custkey
      GROUP BY f.cm, off),
cum AS (SELECT cm, off, n_orders,
        SUM(r) OVER (PARTITION BY cm ORDER BY off) AS cr
      FROM rev)
SELECT cum.cm AS cohort_month, CAST(cum.off AS INT) AS month_offset,
  CAST(cum.n_orders AS BIGINT) AS n_orders,
  CAST(sz.cohort_size AS BIGINT) AS cohort_size,
  CAST(cum.cr AS DOUBLE) AS cum_revenue,
  round(CAST(cum.cr AS DOUBLE) / sz.cohort_size, 6) AS ltv_per_customer
FROM cum JOIN sz ON sz.cm = cum.cm
ORDER BY cohort_month, month_offset
""")
def cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value curves — the revenue twin of
    `cohort_retention`: customers cohort by first-order month, revenue
    accumulates per month offset (integer year*12+month arithmetic, no
    engine month-diff quirks), and LTV divides the exact-decimal
    cumulative by cohort size once per cell. The cumulative window
    runs over the (cohort x offset) aggregate — months, not orders —
    so the window state is calendar-sized at any data scale."""
    orders = load(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    first = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", od).cast("date")).alias("cm"))
    sz = first.groupBy("cm").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size"))
    off = ((F.year(od) * 12 + F.month(od))
           - (F.year("cm") * 12 + F.month("cm")))
    rev = (
        orders.join(first, "o_custkey")
        .groupBy("cm", off.alias("off"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
             F.sum(dec("o_totalprice")).alias("r"))
    )
    from pyspark.sql.window import Window as W
    cum = rev.withColumn(
        "cr", F.sum("r").over(W.partitionBy("cm").orderBy("off")))
    return (
        cum.join(sz, "cm")
        .select(
            F.col("cm").alias("cohort_month"),
            F.col("off").cast("int").alias("month_offset"),
            "n_orders", "cohort_size",
            F.col("cr").cast("double").alias("cum_revenue"),
            F.round(F.col("cr").cast("double") / F.col("cohort_size"), 6)
            .alias("ltv_per_customer"),
        )
        .orderBy("cohort_month", "month_offset")
    )


@query("merge_scd2_apply", oracle="""
WITH cur AS (SELECT c_custkey, c_mktsegment AS segment,
        DATE '2020-01-01' AS valid_from,
        CAST(NULL AS DATE) AS valid_to FROM customer),
hist AS (SELECT c_custkey, 'OLD' AS segment,
        DATE '2018-01-01' AS valid_from,
        DATE '2020-01-01' AS valid_to
      FROM customer WHERE c_custkey % 20 = 0),
changed AS (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 0),
expected AS (
  SELECT * FROM hist
  UNION ALL
  SELECT * FROM cur WHERE c_custkey NOT IN (SELECT * FROM changed)
  UNION ALL
  SELECT c.c_custkey, c.c_mktsegment, DATE '2020-01-01',
         DATE '2024-06-01'
  FROM customer c JOIN changed ON changed.c_custkey = c.c_custkey
  UNION ALL
  SELECT c_custkey, 'PROMO', DATE '2024-06-01', CAST(NULL AS DATE)
  FROM changed
  UNION ALL
  SELECT c_custkey + 1000000, 'NEW', DATE '2024-06-01',
         CAST(NULL AS DATE)
  FROM customer WHERE c_custkey % 10 = 3)
SELECT c_custkey, segment, valid_from,
  COALESCE(valid_to, DATE '9999-12-31') AS valid_to
FROM expected
ORDER BY c_custkey, valid_from
""")
def merge_scd2_apply(spark, sf_dir):
    """SCD2 change application (`scd2_apply`, operators/merge.py;
    Kimball Type-2) — one batch against a customer dimension with
    planted history rows: changed keys close at the effective date
    and reopen with the new segment, null-safe-identical updates
    no-op, unknown keys insert fresh current rows, history passes
    through untouched. The oracle constructs the exact expected
    dimension; every row, boundary date, and NULL `valid_to`
    hash-checked."""
    from ..operators.merge import scd2_apply

    cust = load(spark, sf_dir, "customer")
    d = lambda s: F.lit(s).cast("date")
    cur = cust.select(
        "c_custkey", F.col("c_mktsegment").alias("segment"),
        d("2020-01-01").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"))
    hist = cust.filter(F.col("c_custkey") % 20 == 0).select(
        "c_custkey", F.lit("OLD").alias("segment"),
        d("2018-01-01").alias("valid_from"),
        d("2020-01-01").alias("valid_to"))
    dim = hist.unionByName(cur)
    updates = (
        cust.filter(F.col("c_custkey") % 10 == 0).select(
            "c_custkey", F.lit("PROMO").alias("segment"))
        .unionByName(
            cust.filter(F.col("c_custkey") % 10 == 5).select(
                "c_custkey", F.col("c_mktsegment").alias("segment")))
        .unionByName(
            cust.filter(F.col("c_custkey") % 10 == 3).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit("NEW").alias("segment")))
        .withColumn("effective_ts", d("2024-06-01"))
    )
    out = scd2_apply(dim, updates, ["c_custkey"], ["segment"])
    # NULL dates canonicalize differently across engines (NaT vs '');
    # the gate pins the open-row marker to the conventional 9999-12-31
    return out.withColumn(
        "valid_to",
        F.coalesce("valid_to", F.lit("9999-12-31").cast("date"))
    ).orderBy("c_custkey", "valid_from")


@query("set_ops_all_bag", oracle="""
WITH a AS (SELECT l_suppkey AS k FROM lineitem WHERE l_linenumber <= 2),
b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R')
SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT k FROM a INTERSECT ALL SELECT k FROM b)
GROUP BY k
UNION ALL
SELECT -1 AS k, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT k FROM a EXCEPT ALL SELECT k FROM b)
ORDER BY k
""")
def set_ops_all_bag(spark, sf_dir):
    """BAG-semantics set operations (`intersectAll` / `exceptAll` —
    the multiplicity-preserving twins of the r4 `set_intersect` /
    `set_except` gates): per-key multiplicities of the intersection
    bag, plus the total surviving multiplicity of the difference bag.
    Catalyst plans both as a single aggregate + generate replication,
    never a join explosion."""
    li = load(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_linenumber") <= 2).select(
        F.col("l_suppkey").alias("k"))
    b = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_suppkey").alias("k"))
    inter = (a.intersectAll(b).groupBy("k")
             .agg(F.count(F.lit(1)).cast("long").alias("n")))
    diff = a.exceptAll(b).agg(
        F.lit(-1).cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("n"))
    return inter.unionByName(diff).orderBy("k")


@query("agg_filter_clause", oracle="""
SELECT l_returnflag,
  CAST(COUNT(*) AS BIGINT) AS n_all,
  CAST(COUNT(*) FILTER (WHERE l_quantity >= 25) AS BIGINT) AS n_big,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
       FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS rev_discounted,
  CAST(COUNT(DISTINCT l_suppkey) FILTER (WHERE l_linestatus = 'O')
       AS BIGINT) AS n_open_suppliers
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""")
def agg_filter_clause(spark, sf_dir):
    """SQL aggregate FILTER clause (conditional aggregation surface —
    the standard form of the CASE-WHEN-inside-SUM idiom): mixed
    filtered COUNT / decimal SUM / DISTINCT in one grouped pass, both
    engines planning a single aggregate."""
    li = _tbl(spark, sf_dir)
    return spark.sql(f"""
        SELECT l_returnflag,
          CAST(COUNT(*) AS BIGINT) AS n_all,
          CAST(COUNT(*) FILTER (WHERE l_quantity >= 25) AS BIGINT)
            AS n_big,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
               FILTER (WHERE l_discount > 0.05) AS DOUBLE)
            AS rev_discounted,
          CAST(COUNT(DISTINCT l_suppkey) FILTER (WHERE l_linestatus = 'O')
               AS BIGINT) AS n_open_suppliers
        FROM {li} GROUP BY l_returnflag ORDER BY l_returnflag
    """)


def _tbl(spark, sf_dir):
    name = "pbs_rel_lineitem"
    load(spark, sf_dir, "lineitem").createOrReplaceTempView(name)
    return name


@query("agg_moments", oracle="""
WITH base AS (SELECT event_type, value AS x FROM events
              WHERE value IS NOT NULL),
st AS (SELECT event_type,
    CAST(SUM(CAST(round(x, 12) AS DECIMAL(28,12))) AS DOUBLE)
      / COUNT(*) AS m, COUNT(*) AS n
  FROM base GROUP BY event_type),
dv AS (SELECT b.event_type, st.n, b.x - st.m AS d
  FROM base b JOIN st ON b.event_type = st.event_type),
mom AS (SELECT event_type, MAX(n) AS n,
    CAST(SUM(CAST(round(d * d, 9) AS DECIMAL(28,9))) AS DOUBLE)
      / MAX(n) AS m2,
    CAST(SUM(CAST(round(d * d * d, 9) AS DECIMAL(28,9))) AS DOUBLE)
      / MAX(n) AS m3,
    CAST(SUM(CAST(round(d * d * d * d, 9) AS DECIMAL(28,9))) AS DOUBLE)
      / MAX(n) AS m4
  FROM dv GROUP BY event_type)
SELECT event_type, CAST(n AS BIGINT) AS n,
  round(m2, 6) AS variance_pop,
  round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
  round(m4 / (m2 * m2) - 3, 6) AS kurtosis_excess
FROM mom WHERE m2 > 0 ORDER BY event_type
""")
def agg_moments(spark, sf_dir):
    """Exact higher moments per event type — population variance,
    skewness ``m₃/m₂^1.5``, and excess kurtosis ``m₄/m₂²−3``
    (Pearson moment coefficients; the shape complement to
    `agg_distribution_stats`): deviations from the exact decimal
    mean, every power snapped to 9-dp decimal before the order-free
    sums, three final divisions. The same two-pass shape Spark's own
    `skewness`/`kurtosis` one-pass aggregates approximate — those are
    float-fold order-dependent, these replay bit-for-bit."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    st = ev.groupBy("event_type").agg(
        (F.sum(F.round(F.col("value"), 12).cast("decimal(28,12)"))
         .cast("double") / F.count(F.lit(1))).alias("m"),
        F.count(F.lit(1)).alias("n"))
    dv = ev.join(F.broadcast(st), "event_type").select(
        "event_type", "n", (F.col("value") - F.col("m")).alias("d"))

    def snap(c):
        return F.round(c, 9).cast("decimal(28,9)")

    d = F.col("d")
    mom = dv.groupBy("event_type").agg(
        F.max("n").alias("n"),
        (F.sum(snap(d * d)).cast("double") / F.max("n")).alias("m2"),
        (F.sum(snap(d * d * d)).cast("double") / F.max("n")).alias("m3"),
        (F.sum(snap(d * d * d * d)).cast("double") / F.max("n"))
        .alias("m4"))
    return (
        mom.filter(F.col("m2") > 0)
        .select(
            "event_type", F.col("n").cast("long").alias("n"),
            F.round("m2", 6).alias("variance_pop"),
            F.round(F.col("m3")
                    / (F.col("m2") * F.sqrt(F.col("m2"))), 6)
            .alias("skewness"),
            F.round(F.col("m4") / (F.col("m2") * F.col("m2")) - 3, 6)
            .alias("kurtosis_excess"),
        )
        .orderBy("event_type")
    )


@query("diag_ab_proportions", oracle="""
WITH base AS (SELECT user_id % 2 = 0 AS grp,
        CAST(event_type = 'purchase' AS INT) AS conv
      FROM events WHERE user_id IS NOT NULL),
a AS (SELECT SUM(CASE WHEN grp THEN 1 ELSE 0 END) AS n1,
        SUM(CASE WHEN grp THEN conv ELSE 0 END) AS x1,
        SUM(CASE WHEN NOT grp THEN 1 ELSE 0 END) AS n2,
        SUM(CASE WHEN NOT grp THEN conv ELSE 0 END) AS x2
      FROM base)
SELECT CAST(n1 AS BIGINT) AS n_a, CAST(x1 AS BIGINT) AS conv_a,
  CAST(n2 AS BIGINT) AS n_b, CAST(x2 AS BIGINT) AS conv_b,
  round(CAST(x1 AS DOUBLE) / n1, 6) AS rate_a,
  round(CAST(x2 AS DOUBLE) / n2, 6) AS rate_b,
  round((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
        / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
               * (1.0 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
               * (1.0 / n1 + 1.0 / n2)), 6) AS z
FROM a
""")
def diag_ab_proportions(spark, sf_dir):
    """Two-proportion z-test (the A/B conversion read-out; pooled
    variance per the standard large-sample test): purchase rate of
    even-user vs odd-user cohorts. Integer counts, fixed double
    expression, one row out — the experimentation primitive next to
    `diag_mann_whitney`'s continuous twin."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    grp = (F.col("user_id") % 2 == 0)
    conv = (F.col("event_type") == "purchase").cast("int")
    a = ev.agg(
        F.sum(F.when(grp, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(grp, conv).otherwise(0)).alias("x1"),
        F.sum(F.when(~grp, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(~grp, conv).otherwise(0)).alias("x2"))
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    pp = (F.col("x1") + F.col("x2")).cast("double") \
        / (F.col("n1") + F.col("n2"))
    return a.select(
        F.col("n1").cast("long").alias("n_a"),
        F.col("x1").cast("long").alias("conv_a"),
        F.col("n2").cast("long").alias("n_b"),
        F.col("x2").cast("long").alias("conv_b"),
        F.round(p1, 6).alias("rate_a"),
        F.round(p2, 6).alias("rate_b"),
        F.round((p1 - p2) / F.sqrt(
            pp * (1.0 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n2"))),
            6).alias("z"),
    )


@query("feature_target_encoding", oracle="""
WITH base AS (SELECT o_orderkey, o_orderpriority,
        CAST(o_orderstatus = 'F' AS BIGINT) AS y
      FROM orders),
st AS (SELECT o_orderpriority, SUM(y) AS s, COUNT(*) AS n
      FROM base GROUP BY o_orderpriority),
g AS (SELECT SUM(y) AS gs, COUNT(*) AS gn FROM base)
SELECT b.o_orderkey, b.o_orderpriority, b.y,
  round((CAST(st.s - b.y AS DOUBLE)
         + 10.0 * (CAST(g.gs AS DOUBLE) / g.gn))
        / (CAST(st.n - 1 AS DOUBLE) + 10.0), 6) AS target_enc
FROM base b JOIN st ON b.o_orderpriority = st.o_orderpriority
CROSS JOIN g
ORDER BY b.o_orderkey
""")
def feature_target_encoding(spark, sf_dir):
    """Leave-one-out target encoding (`target_encode_loo`,
    operators/classifier.py; Micci-Barreca 2001) of order priority
    against the order-final label: the high-cardinality categorical
    encoder with the own-row leakage defense and smoothing toward the
    global prior. Integer sums until one division per row; every
    encoding replays."""
    from ..operators.classifier import target_encode_loo

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("long").alias("y"))
    out = target_encode_loo(orders, "o_orderpriority", "y", smoothing=10.0)
    return out.select(
        "o_orderkey", "o_orderpriority", "y", "target_enc"
    ).orderBy("o_orderkey")


@query("agg_listagg", oracle="""
SELECT l_returnflag, l_linestatus,
  string_agg(DISTINCT CAST(l_suppkey % 10 AS VARCHAR), ','
             ORDER BY CAST(l_suppkey % 10 AS VARCHAR)) AS supp_digits,
  CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""")
def agg_listagg(spark, sf_dir):
    """`listagg ... WITHIN GROUP (ORDER BY ...)` (new SQL-standard
    surface in Spark 4; = string_agg): ordered DISTINCT concatenation
    — the deterministic ordered twin of `agg_collect`'s set
    semantics."""
    li = _tbl(spark, sf_dir)
    return spark.sql(f"""
        SELECT l_returnflag, l_linestatus,
          listagg(DISTINCT CAST(l_suppkey % 10 AS STRING), ',')
            WITHIN GROUP (ORDER BY CAST(l_suppkey % 10 AS STRING))
            AS supp_digits,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM {li} GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """)


_T_CLOSENESS_ORACLE = """
WITH b AS (SELECT c_nationkey AS qa, c_mktsegment AS qb,
    c_custkey % 5 AS v FROM customer
  WHERE c_custkey IS NOT NULL AND c_nationkey IS NOT NULL
    AND c_mktsegment IS NOT NULL),
cls AS (SELECT qa, qb, CAST(COUNT(*) AS BIGINT) AS cs
  FROM b GROUP BY 1, 2),
cell AS (SELECT qa, qb, v, COUNT(*) AS c FROM b GROUP BY 1, 2, 3),
gv AS (SELECT v, COUNT(*) AS g FROM b GROUP BY 1),
tot AS (SELECT SUM(g) AS N, COUNT(*) AS m FROM gv),
grid AS (SELECT cls.qa, cls.qb, cls.cs, gv.v, gv.g,
    tot.N, tot.m, COALESCE(cell.c, 0) AS c
  FROM cls CROSS JOIN gv CROSS JOIN tot
  LEFT JOIN cell ON cell.qa = cls.qa AND cell.qb = cls.qb
    AND cell.v = gv.v),
g2 AS (SELECT *, CAST(c AS HUGEINT) * N
    - CAST(g AS HUGEINT) * cs AS d FROM grid),
g3 AS (SELECT *, SUM(d) OVER (PARTITION BY qa, qb ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM g2),
a AS (SELECT qa, qb, MAX(cs) AS cs, MAX(N) AS N, MAX(m) AS m,
    SUM(abs(d)) AS sad, SUM(abs(cum)) AS sac
  FROM g3 GROUP BY 1, 2)
SELECT qa AS c_nationkey, qb AS c_mktsegment, cs AS class_size,
  CAST(sad AS DOUBLE)
    / (2 * CAST(cs AS DOUBLE) * CAST(N AS DOUBLE)) AS t_nominal,
  CASE WHEN m >= 2 THEN CAST(sac AS DOUBLE)
       / (CAST(cs AS DOUBLE) * CAST(N AS DOUBLE)
          * CAST(m - 1 AS DOUBLE)) END AS t_emd,
  CAST(sad AS DOUBLE)
    / (2 * CAST(cs AS DOUBLE) * CAST(N AS DOUBLE)) > 0.05
    AS t_violation
FROM a
"""


@query("privacy_t_closeness", oracle=_T_CLOSENESS_ORACLE)
def privacy_t_closeness(spark, sf_dir):
    """t-closeness release audit (`t_closeness_audit`,
    operators/privacy.py; Li, Li & Venkatasubramanian ICDE 2007) —
    the distributional strengthening beside `privacy_k_anonymity`:
    per (nation, segment) class BOTH paper distances of the
    sensitive distribution from the table's — variational distance
    and ordered EMD — with every per-value deviation cleared to the
    exact integer c_v·N − C_v·n_g (decimal pools, raw-double
    unrounded releases). Class × alphabet grid via a broadcast of
    the 5-value global table. The oracle replays the grid, both
    absolute-deviation sums, and the divisions verbatim."""
    from ..operators.privacy import t_closeness_audit

    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_custkey").isNotNull()).select(
        "c_nationkey", "c_mktsegment",
        (F.col("c_custkey") % 5).alias("sens"))
    return t_closeness_audit(
        cust, ["c_nationkey", "c_mktsegment"], "sens", t=0.05)


_ENTROPY_L_ORACLE = """
WITH b AS (SELECT c_nationkey AS qa, c_mktsegment AS qb,
    c_custkey % 5 AS v FROM customer
  WHERE c_custkey IS NOT NULL),
cell AS (SELECT qa, qb, v, CAST(COUNT(*) AS BIGINT) AS c
  FROM b GROUP BY 1, 2, 3),
u AS (SELECT qa, qb, v, c,
    CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000000) AS HUGEINT)
      AS lnu FROM cell),
a AS (SELECT qa, qb, CAST(SUM(c) AS BIGINT) AS cs,
    CAST(COUNT(*) AS BIGINT) AS l_distinct,
    SUM(CAST(c AS HUGEINT) * lnu) AS s
  FROM u GROUP BY 1, 2),
h AS (SELECT qa, qb, cs, l_distinct,
    greatest(CAST(floor(ln(CAST(cs AS DOUBLE)) * 1000000000)
               AS HUGEINT) - s // cs, 0) AS hn
  FROM a),
r AS (SELECT qa, qb, cs, l_distinct, hn,
    CAST((hn + 500) // 1000 AS DOUBLE) / 1000000.0 AS ent
  FROM h)
SELECT qa AS c_nationkey, qb AS c_mktsegment, cs AS class_size,
  l_distinct, ent AS entropy,
  round(exp(ent), 6) AS entropy_l,
  hn < 693147180 AS l_violation
FROM r
"""


@query("privacy_entropy_l_diversity", oracle=_ENTROPY_L_ORACLE)
def privacy_entropy_l_diversity(spark, sf_dir):
    """Entropy l-diversity audit (`entropy_l_diversity_audit`,
    operators/privacy.py; Machanavajjhala et al. 2007 §3) — the
    value-skew strengthening of the distinct-l flag in
    `privacy_k_anonymity`: per-class Shannon entropy of the
    sensitive distribution through the all-integer nano ladder (ln
    only of integer counts, floored to nano units; exact
    decimal(38,0) pools; integer div mean; clamped non-negative;
    pure-integer HALF_UP release; the ell=2 threshold compares as
    the integer literal floor(ln 2·1e9) = 693147180). The oracle
    replays every floor and division verbatim in HUGEINT."""
    from ..operators.privacy import entropy_l_diversity_audit

    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_custkey").isNotNull()).select(
        "c_nationkey", "c_mktsegment",
        (F.col("c_custkey") % 5).alias("sens"))
    return entropy_l_diversity_audit(
        cust, ["c_nationkey", "c_mktsegment"], "sens", ell=2.0)


@query("privacy_k_anonymity", oracle="""
WITH g AS (SELECT c_nationkey, c_mktsegment,
                  CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
                  c_custkey % 5 AS sens
           FROM customer),
cls AS (SELECT c_nationkey, c_mktsegment, bal_band,
               CAST(COUNT(*) AS BIGINT) AS class_size,
               CAST(COUNT(DISTINCT sens) AS BIGINT) AS l_distinct
        FROM g GROUP BY 1, 2, 3)
SELECT c_nationkey, c_mktsegment, bal_band, class_size, l_distinct,
       class_size < 5 AS k_violation,
       l_distinct < 2 AS l_violation
FROM cls
""")
def privacy_k_anonymity(spark, sf_dir):
    """(k,l)-anonymity release audit (`k_anonymity_audit`,
    operators/privacy.py — Sweeney 2002 / Machanavajjhala 2007): per
    quasi-identifier class (nation, market segment, account-balance
    band) the class size and exact distinct sensitive-value count,
    with the k<5 and l<2 violation flags a release gate would block
    on. One shuffle on the QI tuple, map-side partial aggs, class-
    grain output; the suppression sibling anti-joins the (tiny,
    broadcast) violating-class list. The oracle replays banding,
    class stats, and both flags."""
    from ..operators.privacy import k_anonymity_audit

    cust = load(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
        (F.col("c_custkey") % 5).alias("sens"),
    )
    return k_anonymity_audit(
        cust, ["c_nationkey", "c_mktsegment", "bal_band"], "sens",
        k=5, ell=2,
    )


@query("diag_histogram", oracle="""
WITH v AS (SELECT CAST(o_totalprice AS DOUBLE) AS v, o_orderkey AS t
           FROM orders WHERE o_totalprice IS NOT NULL),
r AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM v),
ew AS (SELECT 'width' AS kind,
              CAST(least(CAST(floor((v.v - r.lo) / ((r.hi - r.lo) / 16))
                              AS INT), 15) AS INT) AS bucket,
              v.v FROM v CROSS JOIN r),
ewa AS (SELECT kind, bucket,
               round(MIN(r.lo + bucket * ((r.hi - r.lo) / 16)), 6) AS lo_edge,
               round(MIN(r.lo + (bucket + 1) * ((r.hi - r.lo) / 16)), 6)
                 AS hi_edge,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM ew CROSS JOIN r GROUP BY 1, 2),
ed AS (SELECT 'depth' AS kind,
              ntile(8) OVER (ORDER BY v, t) - 1 AS bucket, v FROM v),
eda AS (SELECT kind, CAST(bucket AS INT) AS bucket,
               round(MIN(v), 6) AS lo_edge, round(MAX(v), 6) AS hi_edge,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM ed GROUP BY 1, 2)
SELECT * FROM ewa UNION ALL SELECT * FROM eda
""")
def diag_histogram(spark, sf_dir):
    """Optimizer-style column histograms (`equi_width_histogram` /
    `equi_depth_histogram`, operators/profile.py — the ANALYZE
    statistics that drive join reordering and skew detection at scale):
    o_totalprice in 16 equal-width spans (1-row min/max agg broadcast
    into the bucketing scan + one groupBy) and 8 equal-depth ntile
    buckets over the DETERMINISTIC (value, orderkey) order — the
    unique tie-break is what makes equi-depth reproducible across
    engines, partitionings, and runs. Width buckets expose the value
    skew the depth buckets absorb; both replayed exactly by the
    oracle, edges rounded at 6 dp."""
    from ..operators.profile import (
        equi_depth_histogram,
        equi_width_histogram,
    )

    orders = load(spark, sf_dir, "orders")
    ew = equi_width_histogram(orders, "o_totalprice", 16).select(
        F.lit("width").alias("kind"), "bucket",
        "lo_edge", "hi_edge", "n_rows",
    )
    ed = equi_depth_histogram(
        orders, "o_totalprice", "o_orderkey", 8
    ).select(
        F.lit("depth").alias("kind"), "bucket",
        F.col("lo_val").alias("lo_edge"), F.col("hi_val").alias("hi_edge"),
        "n_rows",
    )
    return ew.unionAll(ed)


def _dp_counts_oracle() -> str:
    from ..functions.hashing import oracle_laplace

    noise = oracle_laplace(
        "'gate-audit-prf-key-counts' || '|' || CAST(c_mktsegment AS VARCHAR)"
        " || '|' || CAST(c_nationkey AS VARCHAR)",
        scale=1.0,
    )
    return f"""
WITH g AS (SELECT c_mktsegment, c_nationkey,
                  CAST(COUNT(*) AS BIGINT) AS exact_count
           FROM customer GROUP BY 1, 2)
SELECT c_mktsegment, c_nationkey, exact_count,
       round(greatest(CAST(exact_count AS DOUBLE) + {noise}, 0.0), 6)
         AS noisy_count
FROM g
"""


def _dp_quantiles_oracle() -> str:
    """Exponential-mechanism quantile replay: bin histogram, candidate
    ranks, per-(quantile, candidate) scores + Gumbel PRF draws, argmax
    with the 9-dp key round and smaller-j tie-break — every expression
    mirrored literal-for-literal from `dp_quantiles`."""
    from ..functions.hashing import oracle_gumbel

    lo, hi, nb = 0.0, 51.0, 102
    qs = [0.25, 0.5, 0.75, 0.95]
    eps_q = 1.0 / len(qs)
    key_sql = ("'puffbird-gate-dp-quantile-salt|' || CAST(qi AS VARCHAR)"
               " || '|' || CAST(j AS VARCHAR)")
    g = oracle_gumbel(key_sql)
    vals = ", ".join(f"({i}, {q!r})" for i, q in enumerate(qs))
    return f"""
WITH cnt AS (SELECT least(greatest(CAST(floor(
          (CAST(l_quantity AS DOUBLE) - {lo!r}) / ({hi!r} - {lo!r})
          * {float(nb)!r}) AS BIGINT), 0), {nb - 1}) AS bin,
        COUNT(*) AS c
      FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
tot AS (SELECT COALESCE(SUM(c), 0) AS n FROM cnt),
cand AS (SELECT t.range AS j FROM range(0, {nb + 1}) t),
ranks AS (SELECT cand.j, COALESCE(SUM(cnt.c), 0) AS rk
          FROM cand LEFT JOIN cnt ON cnt.bin < cand.j GROUP BY 1),
qs(qi, q) AS (VALUES {vals}),
scored AS (SELECT qs.qi, qs.q, r.j,
    round({-eps_q / 2.0!r} * abs(CAST(r.rk AS DOUBLE)
            - qs.q * CAST(tot.n AS DOUBLE)) + {g}, 9) AS key
  FROM ranks r CROSS JOIN qs CROSS JOIN tot)
SELECT CAST(q AS DOUBLE) AS quantile,
       round({lo!r} + CAST(j AS DOUBLE) * ({hi!r} - {lo!r})
             / {float(nb)!r}, 6) AS value
FROM (SELECT *, row_number() OVER (PARTITION BY qi
        ORDER BY key DESC, j) AS rn FROM scored)
WHERE rn = 1
"""


@query("privacy_dp_quantiles", oracle=_dp_quantiles_oracle())
def privacy_dp_quantiles(spark, sf_dir):
    """Differentially-private quantiles of order quantity
    (`dp_quantiles`, operators/privacy.py — McSherry & Talwar 2007
    exponential mechanism, Smith 2011 rank utility): candidates are a
    fixed 102-line grid over the CALLER-supplied domain [0, 51]
    (data-derived bounds would leak), utility is -|rank - q*n| at
    sensitivity 1, selection is the deterministic Gumbel-max PRF —
    an exact softmax sample that a retried task can never redraw, and
    that the oracle replays literal-for-literal (draw, 9-dp key
    round, smaller-candidate tie-break). Epsilon 1.0 splits evenly
    over the four quantiles (sequential composition). ONE input-sized
    aggregation (the bin histogram); everything downstream is
    candidate-grain. The gate salt is public because the oracle must
    replay it; production salts are secrets."""
    from ..operators.privacy import dp_quantiles

    li = load(spark, sf_dir, "lineitem")
    return dp_quantiles(
        li, "l_quantity", [0.25, 0.5, 0.75, 0.95],
        salt="puffbird-gate-dp-quantile-salt", epsilon=1.0,
        lo=0.0, hi=51.0, n_bins=102)


@query("privacy_dp_counts", oracle=_dp_counts_oracle())
def privacy_dp_counts(spark, sf_dir):
    """Differentially-private release counts (`dp_noisy_counts`,
    operators/privacy.py — Dwork 2006, Laplace mechanism at
    sensitivity 1): per (segment, nation) cell the exact count plus
    Laplace(1/eps) noise floored at zero. The noise is a PURE FUNCTION
    of the group key (inverse Laplace CDF over an md5-derived uniform,
    functions/hashing.py) — no RNG state, so a retried task, a
    different partitioning, and the SQL oracle all release identical
    values. The salt is a caller-supplied SECRET PRF key in production
    (public salt = recomputable noise = no DP; ADVICE r8 #2) — the
    gate necessarily uses a known test key because the oracle must
    replay the draw. One shuffle (map-side partial counts), noise
    computed at output grain. ``include_exact=True`` is the in-house
    AUDIT view (cross-engine evidence for the pre-noise count); the
    default release withholds exact_count."""
    from ..operators.privacy import dp_noisy_counts

    cust = load(spark, sf_dir, "customer")
    return dp_noisy_counts(
        cust, ["c_mktsegment", "c_nationkey"],
        salt="gate-audit-prf-key-counts", epsilon=1.0,
        include_exact=True,
    )


@query("feature_woe_encoding", oracle="""
WITH lab AS (SELECT c_mktsegment, CAST(c_acctbal > 4500 AS INT) AS y
             FROM customer),
per AS (SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS n_pos
        FROM lab GROUP BY 1),
tot AS (SELECT SUM(n) AS n_all, SUM(n_pos) AS p_all FROM per)
SELECT c_mktsegment, n, n_pos,
       round(ln(((n_pos + 0.5) / (p_all + 1.0))
                / ((n - n_pos + 0.5) / (n_all - p_all + 1.0))), 6) AS woe
FROM per CROSS JOIN tot
""")
def feature_woe_encoding(spark, sf_dir):
    """Weight-of-evidence category encoding (`woe_encoding`,
    operators/features.py — the scorecard-modeling standard; Siddiqi
    2006): per market segment the smoothed log-odds ratio vs the
    global class balance, alpha=0.5 additive smoothing keeping
    single-class categories finite. Category-grain output joins back
    broadcast-style; one shuffle + a 1-row totals broadcast. The label
    is a deterministic balance threshold so both engines derive it
    identically."""
    from ..operators.features import woe_encoding

    cust = load(spark, sf_dir, "customer").select(
        "c_mktsegment",
        (F.col("c_acctbal") > 4500).cast("int").alias("y"),
    )
    return woe_encoding(cust, "c_mktsegment", "y", alpha=0.5)


@query("graph_copurchase", oracle="""
WITH e AS (SELECT o_custkey AS cust, l_partkey AS part,
                  CAST(l_extendedprice AS DECIMAL(12,2)) AS w
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
lr AS (SELECT cust, part, SUM(w) AS ww FROM e GROUP BY 1, 2),
top AS (SELECT cust, part FROM lr
        QUALIFY row_number() OVER (PARTITION BY cust
                                   ORDER BY ww DESC, part) <= 8)
SELECT a.part AS item_a, b.part AS item_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM top a JOIN top b ON a.cust = b.cust AND a.part < b.part
GROUP BY 1, 2 HAVING COUNT(*) >= 2
""")
def graph_copurchase(spark, sf_dir):
    """Capped bipartite projection (`bipartite_projection`,
    operators/graph.py — Newman 2001): the customer-part purchase
    graph projected to an item-item co-purchase network (edge weight =
    customers sharing both parts, support >= 2). The per-customer
    top-8 cap (by exact-decimal spend, part tie-break) is the scale
    contract: heavy-tailed degree means an uncapped projection emits
    C(fanout, 2) pairs per hub customer — the cap bounds that at
    C(8,2)=28 regardless of corpus size. One groupBy, one window
    top-k, one self-join on the customer key (co-partitioned), one
    pair-grain count."""
    from ..operators.graph import bipartite_projection

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", dec("l_extendedprice").alias("w")
    )
    edges = orders.join(
        li, orders.o_orderkey == li.l_orderkey
    ).select(
        F.col("o_custkey").alias("cust"),
        F.col("l_partkey").alias("part"),
        "w",
    )
    out = bipartite_projection(
        edges, "cust", "part", weight_col="w",
        cap_per_left=8, min_support=2,
    )
    return out.select(
        F.col("item_a"), F.col("item_b"), F.col("n_shared")
    )


@query("timeseries_sax", oracle="""
WITH e AS (SELECT user_id, ts, event_id,
                  CAST(value AS DECIMAL(18,6)) AS vd
           FROM events),
r AS (SELECT user_id, vd,
        row_number() OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) - 1 AS rk,
        COUNT(*) OVER (PARTITION BY user_id) AS n,
        SUM(vd) OVER (PARTITION BY user_id) AS sumv,
        SUM(vd * vd) OVER (PARTITION BY user_id) AS sumsq
      FROM e),
z AS (SELECT user_id, CAST(n AS BIGINT) AS n_points,
        CAST(floor(rk * 4 / n) AS INT) AS segment,
        round((CAST(vd AS DOUBLE) - CAST(sumv AS DOUBLE) / n)
          / (CASE WHEN sqrt(greatest(CAST(sumsq AS DOUBLE) / n
                     - (CAST(sumv AS DOUBLE) / n) * (CAST(sumv AS DOUBLE) / n),
                     0.0)) > 0
                  THEN sqrt(greatest(CAST(sumsq AS DOUBLE) / n
                     - (CAST(sumv AS DOUBLE) / n) * (CAST(sumv AS DOUBLE) / n),
                     0.0))
                  ELSE 1.0 END), 6) AS zz
      FROM r),
p AS (SELECT user_id, n_points, segment,
        round(CAST(SUM(CAST(zz AS DECIMAL(28,6))) AS DOUBLE)
              / COUNT(*), 6) AS paa
      FROM z GROUP BY 1, 2, 3),
s AS (SELECT user_id, n_points, segment,
        CASE WHEN paa < -0.6745 THEN 'a'
             WHEN paa < 0.0 THEN 'b'
             WHEN paa < 0.6745 THEN 'c'
             ELSE 'd' END AS c
      FROM p)
SELECT user_id, n_points,
       string_agg(c, '' ORDER BY segment) AS sax
FROM s GROUP BY 1, 2
""")
def timeseries_sax(spark, sf_dir):
    """SAX symbolization (`sax_symbolize`, operators/timeseries.py —
    Lin & Keogh 2003): each user's event-value series z-normalized,
    PAA-compressed to 4 segment means, and quantized to 'abcd' at the
    N(0,1) quartile breakpoints — raw series become groupable strings
    for motif mining and anomaly lookup. Every floating sum is
    order-free (decimal(18,6) casts), z and PAA means round before
    breakpoint compares, segments are floor(rank*4/n) over the
    (ts, event_id) order — the oracle replays all of it with window
    functions. One exchange: window and groupBys share the user key."""
    from ..operators.timeseries import sax_symbolize

    events = load(spark, sf_dir, "events")
    return sax_symbolize(
        events, ["user_id"], ["ts", "event_id"], "value",
        n_segments=4,
    )


@query("agg_weighted_percentile", oracle="""
WITH v AS (SELECT CAST(l_extendedprice AS DECIMAL(12,2)) AS val,
                  CAST(l_quantity AS DECIMAL(28,6)) AS w
           FROM lineitem),
pv AS (SELECT val AS v, SUM(w) AS w FROM v GROUP BY val),
c AS (SELECT v, w, SUM(w) OVER (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        (SELECT SUM(w) FROM pv) AS tw
      FROM pv),
g AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS p)
SELECT g.p,
  CAST(MIN(CASE WHEN CAST(c.cumw AS DOUBLE)
                     >= CAST(c.tw AS DOUBLE) * g.p
                THEN c.v END) AS DOUBLE) AS value
FROM c CROSS JOIN g GROUP BY g.p
""")
def agg_weighted_percentile(spark, sf_dir):
    """Exact weighted percentiles (`weighted_percentiles`,
    operators/robust.py — type-1 inverse CDF): quantity-weighted price
    quartiles + p90 over lineitem. Weights sum as exact decimals at
    VALUE grain (the window runs over distinct prices, not rows); the
    crossing compare is the shared double expression so cut-boundary
    values land identically on both engines. One groupBy + one
    ordered window over the value-grain frame + a 1-row total
    broadcast."""
    from ..operators.robust import weighted_percentiles

    li = load(spark, sf_dir, "lineitem").select(
        dec("l_extendedprice").alias("val"), F.col("l_quantity").alias("w")
    )
    out = weighted_percentiles(li, "val", "w", ps=[0.25, 0.5, 0.75, 0.9])
    return out.select("p", F.col("value").cast("double").alias("value"))


def _random_walks_oracle() -> str:
    from ..functions.hashing import oracle_hex_int

    def pick(step):
        key = (f"'walk|' || CAST(walk_id AS VARCHAR) || '|{step}|'"
               f" || CAST(cur AS VARCHAR)")
        return oracle_hex_int(key, 1, 8)

    return f"""
WITH e AS (
  SELECT DISTINCT l_partkey AS s, 1000000 + l_suppkey AS d FROM lineitem
  UNION
  SELECT DISTINCT 1000000 + l_suppkey AS s, l_partkey AS d FROM lineitem),
r AS (SELECT s, d, row_number() OVER (PARTITION BY s ORDER BY d) - 1 AS rnk
      FROM e),
dg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM r GROUP BY s),
w0 AS (SELECT p_partkey AS walk_id, p_partkey AS cur
       FROM part WHERE p_partkey < 50),
p1 AS (SELECT w0.walk_id, w0.cur,
         CASE WHEN dg.deg IS NOT NULL
              THEN {pick(1)} % dg.deg END AS pick
       FROM w0 LEFT JOIN dg ON dg.s = w0.cur),
s1 AS (SELECT p1.walk_id, r.d AS hop1, r.d AS cur
       FROM p1 LEFT JOIN r ON r.s = p1.cur AND r.rnk = p1.pick),
p2 AS (SELECT s1.walk_id, s1.hop1, s1.cur,
         CASE WHEN dg.deg IS NOT NULL
              THEN {pick(2)} % dg.deg END AS pick
       FROM s1 LEFT JOIN dg ON dg.s = s1.cur),
s2 AS (SELECT p2.walk_id, p2.hop1, r.d AS hop2, r.d AS cur
       FROM p2 LEFT JOIN r ON r.s = p2.cur AND r.rnk = p2.pick),
p3 AS (SELECT s2.walk_id, s2.hop1, s2.hop2, s2.cur,
         CASE WHEN dg.deg IS NOT NULL
              THEN {pick(3)} % dg.deg END AS pick
       FROM s2 LEFT JOIN dg ON dg.s = s2.cur),
s3 AS (SELECT p3.walk_id, p3.hop1, p3.hop2, r.d AS hop3
       FROM p3 LEFT JOIN r ON r.s = p3.cur AND r.rnk = p3.pick)
SELECT walk_id, hop1, hop2, hop3 FROM s3
"""


@query("graph_random_walks", oracle=_random_walks_oracle())
def graph_random_walks(spark, sf_dir):
    """Deterministic random-walk corpus generation (`random_walks`,
    operators/graph.py — DeepWalk, Perozzi 2014): 3-step walks from
    the first 50 parts over the part<->supplier bipartite graph, each
    step's neighbor chosen by ``md5(salt|walk|step|node) %
    out_degree`` — a pure function of the walk state, so retries,
    repartitions, and the SQL oracle draw IDENTICAL walks (the
    exactly-once property RNG walks cannot give). Per step: two keyed
    joins (degree lookup, then (node, pick) -> ranked edge) — never
    join-all-neighbors-then-filter. The oracle unrolls all three
    steps as CTEs with the strpos-polynomial md5 integer."""
    from ..operators.graph import random_walks

    li = load(spark, sf_dir, "lineitem")
    fwd = li.select(
        F.col("l_partkey").alias("s"),
        (F.lit(1000000) + F.col("l_suppkey")).alias("d"),
    )
    rev = li.select(
        (F.lit(1000000) + F.col("l_suppkey")).alias("s"),
        F.col("l_partkey").alias("d"),
    )
    edges = fwd.unionAll(rev)
    starts = load(spark, sf_dir, "part").filter(
        F.col("p_partkey") < 50
    ).select("p_partkey")
    return random_walks(
        edges, "s", "d", starts, "p_partkey", n_steps=3, salt="walk"
    )


@query("diag_corr_matrix", oracle="""
WITH v AS (SELECT CAST(l_quantity AS DECIMAL(18,2)) AS a,
                  CAST(l_extendedprice AS DECIMAL(18,2)) AS b,
                  CAST(l_discount AS DECIMAL(18,2)) AS c,
                  CAST(l_tax AS DECIMAL(18,2)) AS d
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
             AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        SUM(a) AS sa, SUM(b) AS sb, SUM(c) AS sc, SUM(d) AS sd,
        SUM(a*a) AS qa, SUM(b*b) AS qb, SUM(c*c) AS qc, SUM(d*d) AS qd,
        SUM(a*b) AS xab, SUM(a*c) AS xac, SUM(a*d) AS xad,
        SUM(b*c) AS xbc, SUM(b*d) AS xbd, SUM(c*d) AS xcd
      FROM v),
p AS (
  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, n,
    CAST(xab AS DOUBLE) AS sxy, CAST(sa AS DOUBLE) AS sx,
    CAST(sb AS DOUBLE) AS sy, CAST(qa AS DOUBLE) AS sxx,
    CAST(qb AS DOUBLE) AS syy FROM s
  UNION ALL SELECT 'l_quantity', 'l_discount', n,
    CAST(xac AS DOUBLE), CAST(sa AS DOUBLE), CAST(sc AS DOUBLE),
    CAST(qa AS DOUBLE), CAST(qc AS DOUBLE) FROM s
  UNION ALL SELECT 'l_quantity', 'l_tax', n,
    CAST(xad AS DOUBLE), CAST(sa AS DOUBLE), CAST(sd AS DOUBLE),
    CAST(qa AS DOUBLE), CAST(qd AS DOUBLE) FROM s
  UNION ALL SELECT 'l_extendedprice', 'l_discount', n,
    CAST(xbc AS DOUBLE), CAST(sb AS DOUBLE), CAST(sc AS DOUBLE),
    CAST(qb AS DOUBLE), CAST(qc AS DOUBLE) FROM s
  UNION ALL SELECT 'l_extendedprice', 'l_tax', n,
    CAST(xbd AS DOUBLE), CAST(sb AS DOUBLE), CAST(sd AS DOUBLE),
    CAST(qb AS DOUBLE), CAST(qd AS DOUBLE) FROM s
  UNION ALL SELECT 'l_discount', 'l_tax', n,
    CAST(xcd AS DOUBLE), CAST(sc AS DOUBLE), CAST(sd AS DOUBLE),
    CAST(qc AS DOUBLE), CAST(qd AS DOUBLE) FROM s)
SELECT col_a, col_b, n,
  CASE WHEN sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) > 0
       THEN round((n * sxy - sx * sy)
                  / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
  END AS corr
FROM p
""")
def diag_corr_matrix(spark, sf_dir):
    """One-pass pairwise Pearson matrix (`correlation_matrix`,
    operators/profile.py): all six correlations among four lineitem
    measures from a SINGLE aggregation — exact decimal sums/squares/
    cross-products (order-free), one closed-form double per pair,
    complete-case filtering so every pair shares one n. C(k,2)
    correlations, one scan."""
    from ..operators.profile import correlation_matrix

    li = load(spark, sf_dir, "lineitem")
    return correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])


def _dp_mean_oracle() -> str:
    from ..functions.hashing import oracle_laplace

    key = lambda sfx: (  # noqa: E731
        f"'gate-audit-prf-key-mean{sfx}' || '|' "
        "|| CAST(c_mktsegment AS VARCHAR)")
    n_sum = oracle_laplace(key("s"), scale=5000.0 / 0.5)
    n_cnt = oracle_laplace(key("c"), scale=1.0 / 0.5)
    return f"""
WITH g AS (SELECT c_mktsegment,
             SUM(CAST(round(least(greatest(
                   CAST(c_acctbal AS DOUBLE), 0.0), 5000.0), 6)
                 AS DECIMAL(28,6))) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM customer GROUP BY 1)
SELECT c_mktsegment, n AS exact_n,
  round(least(greatest(
    (CAST(s AS DOUBLE) + {n_sum})
      / greatest(CAST(n AS DOUBLE) + {n_cnt}, 1.0), 0.0), 5000.0), 6)
    AS noisy_mean
FROM g
"""


@query("privacy_dp_mean", oracle=_dp_mean_oracle())
def privacy_dp_mean(spark, sf_dir):
    """Differentially-private clamped means (`dp_noisy_mean`,
    operators/privacy.py): per-segment account-balance means released
    under the clamp-and-noise recipe — values clamped to [0, 5000]
    (sensitivity bound), the budget split between Laplace noise on
    the clamped sum (scale clamp/(eps/2)) and on the count (scale
    2/eps), ratio re-clamped. Both draws are pure functions of the
    group key on disjoint suffixes of the salt (retry-safe,
    engine-replayable); in production the salt is a SECRET PRF key —
    the gate uses a known test key so the oracle can replay the draw
    (ADVICE r8 #2). ``include_exact=True`` is the audit view; a real
    release withholds exact_n. The oracle replays clamp, exact decimal
    sum, both Laplace inversions, and the guarded ratio."""
    from ..operators.privacy import dp_noisy_mean

    cust = load(spark, sf_dir, "customer")
    return dp_noisy_mean(
        cust, ["c_mktsegment"], "c_acctbal",
        clamp=5000.0, salt="gate-audit-prf-key-mean", epsilon=1.0,
        include_exact=True,
    )


@query("timeseries_ewma_timedecay", oracle="""
WITH b AS (SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS v,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS tt
           FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
m AS (SELECT *, MAX(tt) OVER (PARTITION BY user_id) AS tmax FROM b),
g AS (SELECT user_id, ts, event_id, v,
        round(pow(2.0, (tt - tmax) / (604800.0 * 1000000.0)), 12) AS gr
      FROM m),
c AS (SELECT user_id, ts, event_id, v, gr,
        SUM(CAST(round(v * gr, 12) AS DECIMAL(38,12))) OVER w AS num,
        SUM(CAST(gr AS DECIMAL(38,12))) OVER w AS den
      FROM g WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT user_id, ts, event_id, v AS value,
       CASE WHEN gr > 0
            THEN round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
       END AS ewma
FROM c
""")
def timeseries_ewma_timedecay(spark, sf_dir):
    """Irregular-interval time-decay EWMA (`ewma_time_decay`,
    operators/timeseries.py — pandas ewm(times=...)): per-user event
    smoothing where weight decays by wall-clock age (halflife 7
    days), computed WITHOUT the sequential recursion via the
    log-space rebase — two per-key running sums of 12-dp
    decimal-snapped power-of-two growth terms (window partial sums
    are not sequential on every engine; only exact addition is
    portable). O(n), one exchange. The oracle replays the rebase,
    both prefix sums, and the normalized ratio."""
    from ..operators.timeseries import ewma_time_decay

    ev = load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull())
    return ewma_time_decay(
        ev, ["user_id"], "ts", "value",
        halflife_s=604800.0, tiebreak_cols=["event_id"],
    )


@query("agg_hhi", oracle="""
WITH s AS (SELECT n_nationkey AS nation, c_mktsegment AS seg,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1, 2),
t AS (SELECT nation, SUM(n) AS tot FROM s GROUP BY nation)
SELECT s.nation, CAST(t.tot AS BIGINT) AS n_customers,
  round(CAST(SUM(CAST(round(
      (CAST(s.n AS DOUBLE) / t.tot) * (CAST(s.n AS DOUBLE) / t.tot), 12)
    AS DECIMAL(28,12))) AS DOUBLE) * 10000, 6) AS hhi
FROM s JOIN t ON s.nation = t.nation
GROUP BY s.nation, t.tot
""")
def agg_hhi(spark, sf_dir):
    """Herfindahl-Hirschman concentration index per nation over
    market-segment shares (the antitrust/market-structure metric,
    scaled to the conventional 0-10000 points): integer cell counts,
    per-cell squared shares snapped to 12-dp decimals before the
    order-free sum; the exact decimal sum is cast to DOUBLE before
    scaling so the released column follows the registry's double
    output convention (VERDICT r8: a DECIMAL final hash-mismatches
    the driver even when values agree). Two keyed aggs + one
    broadcast-size join."""
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    s = cust.join(
        F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey")
    ).groupBy(
        F.col("n_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = s.groupBy("nation").agg(F.sum("n").alias("tot"))
    share = F.col("n").cast("double") / F.col("tot")
    return (
        s.join(F.broadcast(t), "nation")
        .groupBy("nation", "tot")
        .agg(
            F.round(
                F.sum(
                    F.round(share * share, 12).cast("decimal(28,12)")
                ).cast("double") * 10000, 6
            ).alias("hhi"))
        .select(
            "nation", F.col("tot").cast("long").alias("n_customers"),
            "hhi")
    )


@query("graph_assortativity", oracle="""
WITH e0 AS (SELECT DISTINCT l_partkey AS a, 1000000 + l_suppkey AS b
            FROM lineitem),
sym AS (SELECT DISTINCT a, b FROM (
          SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0)
        WHERE a != b),
deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a),
j AS (SELECT CAST(dx.d AS DECIMAL(18,0)) AS dx,
             CAST(dy.d AS DECIMAL(18,0)) AS dy
      FROM sym JOIN deg dx ON sym.a = dx.a
               JOIN deg dy ON sym.b = dy.a),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2,
        SUM(dx) AS sx, SUM(dy) AS sy, SUM(dx * dy) AS sxy,
        SUM(dx * dx) AS sxx, SUM(dy * dy) AS syy
      FROM j)
SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
  CASE WHEN sqrt((CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * (CAST(m2 AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) > 0
       THEN round((CAST(m2 AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(m2 AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
  END AS assortativity
FROM s
""")
def graph_assortativity(spark, sf_dir):
    """Degree assortativity (`degree_assortativity`,
    operators/graph.py — Newman 2002): the endpoint-degree Pearson
    over the symmetrized part-supplier graph. Bipartite graphs mix
    disassortatively by construction — the gate value is strongly
    negative, a structural fact the oracle replays through the exact
    integer-degree moment sums."""
    from ..operators.graph import degree_assortativity

    li = load(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("s"),
        (F.lit(1000000) + F.col("l_suppkey")).alias("d"),
    )
    return degree_assortativity(edges, "s", "d")


@query("events_longest_streak", oracle="""
WITH d AS (SELECT DISTINCT user_id,
             CAST(CAST(ts AS DATE) AS DATE) AS day
           FROM events WHERE user_id IS NOT NULL),
r AS (SELECT user_id, day,
        date_diff('day', DATE '1970-01-01', day)
          - row_number() OVER (PARTITION BY user_id ORDER BY day)
          AS grp
      FROM d),
s AS (SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len,
        MIN(day) AS streak_start
      FROM r GROUP BY user_id, grp)
SELECT user_id,
  MAX(len) AS longest_streak,
  CAST(COUNT(*) AS BIGINT) AS n_streaks,
  MIN(streak_start) AS first_active_day
FROM s GROUP BY user_id
""")
def events_longest_streak(spark, sf_dir):
    """Longest consecutive-day activity streak per user — the
    date-minus-row-number gaps-and-islands idiom (a calendar twin of
    `events_collapse_adjacent`'s value runs): distinct active days,
    one window rank, day-number minus rank is constant within a
    consecutive run, two keyed aggs. Engagement analytics' most
    -asked question, all on one user-key exchange."""
    from pyspark.sql.window import Window as W

    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    days = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    r = days.select(
        "user_id", "day",
        (F.datediff(F.col("day"), F.lit("1970-01-01"))
         - F.row_number().over(w)).alias("grp"),
    )
    s = r.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("day").alias("streak_start"),
    )
    return s.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.min("streak_start").alias("first_active_day"),
    )


@query("events_user_similarity", oracle="""
WITH c AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
           FROM events WHERE user_id IS NOT NULL
           GROUP BY user_id, event_type),
p AS (SELECT a.user_id AS user_a, b.user_id AS user_b,
        SUM(a.n * b.n) AS dot
      FROM c a JOIN c b ON a.event_type = b.event_type
       AND a.user_id < b.user_id
      GROUP BY a.user_id, b.user_id),
nrm AS (SELECT user_id, sqrt(CAST(SUM(n * n) AS DOUBLE)) AS nn
        FROM c GROUP BY user_id),
sc AS (SELECT p.user_a, p.user_b,
         round(CAST(p.dot AS DOUBLE) / (na.nn * nb.nn), 6) AS cosine
       FROM p JOIN nrm na ON p.user_a = na.user_id
              JOIN nrm nb ON p.user_b = nb.user_id)
SELECT user_a, user_b, cosine
FROM sc
QUALIFY row_number() OVER (PARTITION BY user_a
                           ORDER BY cosine DESC, user_b) <= 3
""")
def events_user_similarity(spark, sf_dir):
    """Behavioral user similarity — cosine over event-type count
    profiles, top-3 higher-id partners per user: the audience-
    lookalike primitive built from BEHAVIOR
    (`count_profile_topk_pairs`, operators/similarity.py). Round 9
    replaced the inverted-index pair join: a categorical vocabulary is
    tiny BY DEFINITION, so "join on the type key" is an all-pairs join
    in disguise — the sf1 rehearsal measured 881 s (N²/2 wide rows
    through a shuffle) for a 45k-row answer. The dense shape — pivot
    to |types|-wide count vectors, blocked matmul, per-block local
    top-3 then an exact global top-3 over the k·nb partials — computes
    the identical result (integer dots exact in f64, HALF_UP 6-dp
    round, id tie-break; NULL types norm-only per SQL equi-join
    semantics) in seconds. The oracle stays the join formulation, so
    the hash gate proves the equivalence."""
    from ..operators.similarity import count_profile_topk_pairs

    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return count_profile_topk_pairs(
        ev, "user_id", "event_type", k=3
    ).select(
        F.col("id_a").alias("user_a"), F.col("id_b").alias("user_b"),
        "cosine")


@query("profile_topk_sparse", oracle="""
WITH c AS (SELECT l_suppkey AS s, l_partkey AS p,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM lineitem GROUP BY 1, 2),
nrm AS (SELECT s, sqrt(CAST(SUM(n * n) AS DOUBLE)) AS nn
        FROM c GROUP BY s),
d AS (SELECT a.s AS supp_a, b.s AS supp_b, SUM(a.n * b.n) AS dot
      FROM c a JOIN c b ON a.p = b.p AND a.s < b.s
      GROUP BY 1, 2),
sc AS (SELECT d.supp_a, d.supp_b,
         floor(CAST(d.dot AS DOUBLE) / (na.nn * nb.nn) * 1000000 + 0.5)
           / 1000000 AS cosine
       FROM d JOIN nrm na ON d.supp_a = na.s
              JOIN nrm nb ON d.supp_b = nb.s)
SELECT supp_a, supp_b, cosine
FROM sc
QUALIFY row_number() OVER (PARTITION BY supp_a
                           ORDER BY cosine DESC, supp_b) <= 3
""")
def profile_topk_sparse(spark, sf_dir):
    """Supplier similarity over the PARTS they ship — the
    WIDE-VOCABULARY twin of `events_user_similarity`: here the "type"
    space is item-sized (2,000 parts at sf0.01, part-catalog-sized in
    production), so the inverted-index pair join
    (`profile_topk_pairs_sparse`, operators/similarity.py) is the
    right physical shape — each part's posting list is short (~30
    suppliers), only genuinely co-occurring supplier pairs ever
    materialize, and candidate mass is Σ df² over parts rather than
    N². Cosine rounds via the floor(x*1e6+0.5) replay shared
    bit-identical with the dense kernel (the oracle mirrors the exact
    expression, not SQL round)."""
    from ..operators.similarity import profile_topk_pairs_sparse

    li = load(spark, sf_dir, "lineitem")
    return profile_topk_pairs_sparse(
        li, "l_suppkey", "l_partkey", k=3
    ).select(
        F.col("id_a").alias("supp_a"), F.col("id_b").alias("supp_b"),
        "cosine")


@query("profile_topk_sparse_capped", oracle="""
WITH c AS (SELECT l_suppkey AS s, l_partkey AS p,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM lineitem GROUP BY 1, 2),
nrm AS (SELECT s, sqrt(CAST(SUM(n * n) AS DOUBLE)) AS nn
        FROM c GROUP BY s),
hot AS (SELECT p FROM c GROUP BY p HAVING COUNT(*) > 20),
cc AS (SELECT c.* FROM c ANTI JOIN hot ON c.p = hot.p),
d AS (SELECT a.s AS supp_a, b.s AS supp_b, SUM(a.n * b.n) AS dot
      FROM cc a JOIN cc b ON a.p = b.p AND a.s < b.s
      GROUP BY 1, 2),
sc AS (SELECT d.supp_a, d.supp_b,
         floor(CAST(d.dot AS DOUBLE) / (na.nn * nb.nn) * 1000000 + 0.5)
           / 1000000 AS cosine
       FROM d JOIN nrm na ON d.supp_a = na.s
              JOIN nrm nb ON d.supp_b = nb.s)
SELECT supp_a, supp_b, cosine
FROM sc
QUALIFY row_number() OVER (PARTITION BY supp_a
                           ORDER BY cosine DESC, supp_b) <= 3
""")
def profile_topk_sparse_capped(spark, sf_dir):
    """`profile_topk_sparse` with the production posting-list valve:
    parts carried by more than ``max_df=20`` suppliers leave DOT
    PRODUCTS but keep their norm mass (the NULL-type convention) —
    with zipf-popular types (URLs, SKUs, stopword tokens: the norm at
    100 TB, not the edge case) one corpus-frequency type makes the
    uncapped pair join all-pairs-sized (measured on the r10 synthetic
    zipf rehearsal: an uncapped inverted index on zipf types is
    all-pairs in disguise). The oracle replays the cap exactly: hot
    types anti-joined out of the pair join only, norms over the FULL
    profile."""
    from ..operators.similarity import profile_topk_pairs_sparse

    li = load(spark, sf_dir, "lineitem")
    return profile_topk_pairs_sparse(
        li, "l_suppkey", "l_partkey", k=3, max_df=20
    ).select(
        F.col("id_a").alias("supp_a"), F.col("id_b").alias("supp_b"),
        "cosine")


@query("agg_bitmap_distinct", oracle="""
WITH b AS (SELECT c_mktsegment,
             c_custkey // 63 AS bucket,
             bit_or(1::BIGINT << CAST(c_custkey % 63 AS INT)) AS bits
           FROM customer GROUP BY c_mktsegment, c_custkey // 63)
SELECT c_mktsegment,
  CAST(SUM(bit_count(bits)) AS BIGINT) AS n_distinct,
  CAST(COUNT(*) AS BIGINT) AS n_buckets
FROM b GROUP BY c_mktsegment
""")
def agg_bitmap_distinct(spark, sf_dir):
    """EXACT distinct counting via bitmap aggregation (the bitmap-index
    technique warehouses use when keys are bounded integers): each key
    sets bit ``id % 64`` of bucket ``id // 64``, buckets OR together
    map-side (bit_or is associative-commutative — partials combine
    like any sum), popcounts sum to the exact distinct count. Versus
    count_distinct's shuffle of every key, this shuffles ONE 8-byte
    word per 64-key bucket — the ~63x wire compression is the point at
    scale. Two keyed aggs, both partial-aggregated."""
    cust = load(spark, sf_dir, "customer")
    b = cust.groupBy(
        "c_mktsegment",
        # 63 keys per bucket, not 64: bit 63 of a SIGNED BIGINT is the
        # sign bit and DuckDB raises on 1 << 63
        (F.col("c_custkey") / 63).cast("long").alias("bucket"),
    ).agg(
        # SQL shiftleft takes a column shift count; only the Python
        # wrapper insists on a literal
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), "
                   "CAST(c_custkey % 63 AS INT))")
        ).alias("bits")
    )
    return b.groupBy("c_mktsegment").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("n_distinct"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
    )


@query("diag_missingness", oracle="""
WITH d AS (SELECT
    CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS bal,
    CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_mktsegment END AS seg,
    CASE WHEN c_custkey % 13 = 0 THEN NULL ELSE c_nationkey END AS nat
  FROM customer)
SELECT bal IS NULL AS bal_missing,
       seg IS NULL AS seg_missing,
       nat IS NULL AS nat_missing,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM d GROUP BY 1, 2, 3
""")
def diag_missingness(spark, sf_dir):
    """Missingness-pattern profile (the md.pattern / missingno matrix):
    one row per NULL-indicator combination with its count — the
    diagnostic that distinguishes random missingness from structural
    (co-missing columns = an upstream join, not noise). NULLs are
    synthesized deterministically on three customer columns; the
    profile is ONE groupBy over the indicator tuple (2^k patterns max,
    output-grain). The complete-case row count is the corr-matrix
    denominator upstream of `diag_corr_matrix`."""
    cust = load(spark, sf_dir, "customer")
    d = cust.select(
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("c_acctbal")).alias("bal"),
        F.when(F.col("c_custkey") % 11 == 0, F.lit(None))
        .otherwise(F.col("c_mktsegment")).alias("seg"),
        F.when(F.col("c_custkey") % 13 == 0, F.lit(None))
        .otherwise(F.col("c_nationkey")).alias("nat"),
    )
    return d.groupBy(
        F.col("bal").isNull().alias("bal_missing"),
        F.col("seg").isNull().alias("seg_missing"),
        F.col("nat").isNull().alias("nat_missing"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_rows"))


@query("agg_ols_two_features", oracle="""
WITH v AS (SELECT CAST(l_quantity AS DECIMAL(18,2)) AS x1,
                  CAST(l_discount AS DECIMAL(18,2)) AS x2,
                  CAST(l_extendedprice AS DECIMAL(18,2)) AS y
           FROM lineitem),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
        SUM(x1*x1) AS s11, SUM(x2*x2) AS s22, SUM(x1*x2) AS s12,
        SUM(x1*y) AS s1y, SUM(x2*y) AS s2y
      FROM v),
c AS (SELECT n,
        CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n AS a11,
        CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE)/n AS a22,
        CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s2 AS DOUBLE)/n AS a12,
        CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(sy AS DOUBLE)/n AS b1,
        CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE)*CAST(sy AS DOUBLE)/n AS b2,
        CAST(s1 AS DOUBLE)/n AS m1, CAST(s2 AS DOUBLE)/n AS m2,
        CAST(sy AS DOUBLE)/n AS my
      FROM s)
SELECT n,
  round((b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12), 6) AS beta1,
  round((b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12), 6) AS beta2,
  round(my - ((b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12)) * m1
           - ((b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12)) * m2, 6)
    AS intercept
FROM c
""")
def agg_ols_two_features(spark, sf_dir):
    """Two-regressor OLS via normal equations (price on quantity and
    discount) — the multiple-regression extension of `agg_group_ols`:
    every moment is an exact decimal from ONE aggregation pass, the
    2x2 system solves in closed form (Cramer's rule on the centered
    moments), coefficients round at 6 dp. The shape that scales:
    k-feature OLS is one pass of k(k+3)/2 exact sums + a driver-free
    closed-form solve — no iterative optimizer, no collect."""
    li = load(spark, sf_dir, "lineitem")
    x1 = dec("l_quantity", 18, 2)
    x2 = dec("l_discount", 18, 2)
    y = dec("l_extendedprice", 18, 2)
    s = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x1).alias("s1"), F.sum(x2).alias("s2"),
        F.sum(y).alias("sy"),
        F.sum(x1 * x1).alias("s11"), F.sum(x2 * x2).alias("s22"),
        F.sum(x1 * x2).alias("s12"),
        F.sum(x1 * y).alias("s1y"), F.sum(x2 * y).alias("s2y"),
    )
    n = F.col("n").cast("double")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    a11 = d("s11") - d("s1") * d("s1") / n
    a22 = d("s22") - d("s2") * d("s2") / n
    a12 = d("s12") - d("s1") * d("s2") / n
    b1 = d("s1y") - d("s1") * d("sy") / n
    b2 = d("s2y") - d("s2") * d("sy") / n
    det = a11 * a22 - a12 * a12
    beta1 = (b1 * a22 - b2 * a12) / det
    beta2 = (b2 * a11 - b1 * a12) / det
    m1, m2, my = d("s1") / n, d("s2") / n, d("sy") / n
    return s.select(
        "n",
        F.round(beta1, 6).alias("beta1"),
        F.round(beta2, 6).alias("beta2"),
        F.round(my - beta1 * m1 - beta2 * m2, 6).alias("intercept"),
    )


@query("diag_anova", oracle="""
WITH v AS (SELECT c_mktsegment AS g,
                  CAST(c_acctbal AS DECIMAL(18,2)) AS y
           FROM customer WHERE c_acctbal IS NOT NULL),
per AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(y) AS s, SUM(y*y) AS q
        FROM v GROUP BY g),
tot AS (SELECT SUM(n) AS nn, SUM(s) AS ss, SUM(q) AS qq,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM per),
parts AS (SELECT tot.nn, tot.k,
    CAST(tot.qq AS DOUBLE)
      - CAST(tot.ss AS DOUBLE) * CAST(tot.ss AS DOUBLE) / tot.nn AS sst,
    CAST(SUM(CAST(round(
        CAST(per.s AS DOUBLE) * CAST(per.s AS DOUBLE) / per.n, 2)
      AS DECIMAL(28,2))) AS DOUBLE)
      - round(CAST(tot.ss AS DOUBLE) * CAST(tot.ss AS DOUBLE) / tot.nn, 2)
      AS ssb
  FROM per CROSS JOIN tot
  GROUP BY tot.nn, tot.k, tot.qq, tot.ss)
SELECT CAST(nn AS BIGINT) AS n, CAST(k AS INT) AS k,
  round(ssb, 2) AS ss_between,
  round(round(sst, 2) - ssb, 2) AS ss_within,
  round((ssb / (k - 1)) / ((round(sst, 2) - ssb) / (nn - k)), 6) AS f_stat
FROM parts
""")
def diag_anova(spark, sf_dir):
    """One-way ANOVA (Fisher): does mean account balance differ across
    market segments — the k-group generalization beside the two-sample
    tests (`diag_mann_whitney`, `diag_ks_test`, `diag_ab_proportions`).
    Between/within sums of squares from exact per-group decimal
    moments (one groupBy + one k-row rollup), the F statistic one
    closed-form double expression rounded at 6 dp."""
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_acctbal").isNotNull())
    y = dec("c_acctbal", 18, 2)
    per = cust.groupBy(F.col("c_mktsegment").alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(y).alias("s"), F.sum(y * y).alias("q"),
    )
    tot = per.agg(
        F.sum("n").alias("nn"), F.sum("s").alias("ss"),
        F.sum("q").alias("qq"), F.count(F.lit(1)).cast("long").alias("k"),
    )
    j = per.crossJoin(F.broadcast(tot))
    nn = F.col("nn").cast("double")
    sst = F.max(F.col("qq").cast("double")
                - F.col("ss").cast("double") * F.col("ss").cast("double")
                / nn)
    # per-group terms snap to 2-dp decimals before the CROSS-GROUP sum
    # (a plain double sum is partial-agg-order-dependent), and 2 dp —
    # not 6 — because the snap is only engine-portable while
    # term * 10^dp stays inside the double exact-integer range: these
    # terms reach ~1e12 at sf1, so 6 dp overflowed it at sf0.1 and the
    # two engines' round() diverged near boundaries
    ssb = (
        F.sum(
            F.round(
                F.col("s").cast("double") * F.col("s").cast("double")
                / F.col("n"), 2
            ).cast("decimal(28,2)")
        ).cast("double")
        - F.round(
            F.max(F.col("ss").cast("double") * F.col("ss").cast("double"))
            / nn, 2)
    )
    sst2 = F.round(sst, 2)
    agg = j.groupBy("nn", "k").agg(
        F.round(ssb, 2).alias("ss_between"),
        F.round(sst2 - ssb, 2).alias("ss_within"),
        F.round(
            (ssb / (F.col("k") - 1))
            / ((sst2 - ssb) / (F.first("nn").cast("double") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )
    return agg.select(
        F.col("nn").cast("long").alias("n"),
        F.col("k").cast("int").alias("k"),
        "ss_between", "ss_within", "f_stat",
    )


@query("q4_order_priority", oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
""")
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape (order priority checking), adapted to the
    trimmed schema (no commit/receipt dates: "late" = a line shipped
    more than 30 days after the order date): quarter's orders with AT
    LEAST ONE late line, counted per priority. The EXISTS compiles to
    a LEFT SEMI join — orders pass the date filter at the SCAN
    (pushdown), the semi join deduplicates multi-line matches without
    materializing them, and the count is a tiny keyed agg. At 100 TB
    the semi join is the shape that never fans out."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate")
         >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate")
           < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz")))
    li = load(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate")
           > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")),
        "left_semi")
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count"))


@query("q19_discounted_revenue", oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
""")
def q19_discounted_revenue(spark, sf_dir):
    """TPC-H Q19 shape (discounted revenue): a DISJUNCTION of
    conjunctive brand/size/quantity predicates across the join — the
    optimizer-stress query. Catalyst must (a) push the
    common-denominator parts of the OR to both scans (quantity range
    union to lineitem, size/brand union to part) and (b) keep the
    small part side broadcast so the disjunction evaluates join-local.
    Exact decimal money arithmetic (the q1/q6 policy) keeps the sum
    order-free."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#12")
         & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23")
           & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34")
           & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30)))
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.sum(dec("l_extendedprice")
                  * (F.lit(1) - dec("l_discount")))
            .cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"))
    )


@query("q22_dormant_customers", oracle="""
WITH cc AS (SELECT c_custkey, c_acctbal, c_nationkey % 7 AS code
            FROM customer),
avgb AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
           / COUNT(*) AS a
         FROM cc WHERE c_acctbal > 0.0 AND code IN (1, 3, 5)),
sel AS (SELECT cc.code, cc.c_custkey, cc.c_acctbal
        FROM cc CROSS JOIN avgb
        WHERE cc.code IN (1, 3, 5) AND cc.c_acctbal > avgb.a
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = cc.c_custkey
                            AND o.o_orderdate
                                >= TIMESTAMP '2000-01-01 00:00:00'))
SELECT code, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
         AS totacctbal
FROM sel GROUP BY code
""")
def q22_dormant_customers(spark, sf_dir):
    """TPC-H Q22 shape (global sales opportunity), adapted to the
    trimmed schema (no phone: country code = nationkey mod 7;
    "no orders" would be empty on this corpus, so dormancy = NO ORDER
    since 2000): above-average-balance customers in selected codes
    with no recent orders, counted and totaled per code. The classic
    three-part plan: a one-row scalar subquery (broadcast), an
    ANTI join against the recent-order keys (never a fan-out), exact
    decimal balance sums."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal",
        (F.col("c_nationkey") % 7).alias("code"))
    c = c.filter(F.col("code").isin(1, 3, 5))
    avgb = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg((F.sum(dec("c_acctbal")).cast("double")
              / F.count(F.lit(1))).alias("__a")))
    recent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate")
        >= F.lit("2000-01-01 00:00:00").cast("timestamp_ntz")
    ).select(F.col("o_custkey").alias("c_custkey")).distinct()
    sel = (
        c.crossJoin(F.broadcast(avgb))
        .filter(F.col("c_acctbal") > F.col("__a"))
        .join(recent, "c_custkey", "left_anti"))
    return sel.groupBy("code").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(dec("c_acctbal")).cast("double").alias("totacctbal"))


@query("diag_psi_global", oracle="""
WITH ref AS (SELECT CAST(value AS DOUBLE) AS v FROM events
             WHERE value IS NOT NULL AND (event_id // 16) % 2 = 0),
cur AS (SELECT CAST(value * 1.5 AS DOUBLE) AS v FROM events
        WHERE value IS NOT NULL AND (event_id // 16) % 2 = 1),
e AS (SELECT quantile_cont(v,
        [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS edges
      FROM ref),
ra AS (SELECT len(list_filter(e.edges, x -> r.v > x)) AS b, COUNT(*) AS na
       FROM ref r CROSS JOIN e GROUP BY 1),
rb AS (SELECT len(list_filter(e.edges, x -> c.v > x)) AS b, COUNT(*) AS nb
       FROM cur c CROSS JOIN e GROUP BY 1),
grid AS (SELECT t.range AS b FROM range(0, 10) t),
cells AS (SELECT g.b, COALESCE(ra.na, 0) AS na, COALESCE(rb.nb, 0) AS nb
          FROM grid g LEFT JOIN ra ON g.b = ra.b
          LEFT JOIN rb ON g.b = rb.b),
tot AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM cells)
SELECT CAST(MAX(t.ta) AS BIGINT) AS n_ref,
       CAST(MAX(t.tb) AS BIGINT) AS n_cur,
       round(SUM(((c.nb + 0.5) / (t.tb + 5.0) - (c.na + 0.5) / (t.ta + 5.0))
                 * ln(((c.nb + 0.5) / (t.tb + 5.0))
                      / ((c.na + 0.5) / (t.ta + 5.0)))), 6) AS psi,
       round(SUM(((c.nb + 0.5) / (t.tb + 5.0) - (c.na + 0.5) / (t.ta + 5.0))
                 * ln(((c.nb + 0.5) / (t.tb + 5.0))
                      / ((c.na + 0.5) / (t.ta + 5.0)))), 6) > 0.25
         AS drifted
FROM cells c CROSS JOIN tot t
""")
def diag_psi_global(spark, sf_dir):
    """GLOBAL (keyless) corpus drift — the r11 probe fix under driver
    verification: `distribution_psi` with ``key_cols=[]`` (previously
    an opaque pyspark ``join(on=[])`` IndexError), whole-corpus value
    deciles, one row out. The current snapshot carries an injected
    1.5x scale shift so the global monitor must read drifted; every
    keyless join rides a broadcast one-row total."""
    from ..operators.drift import distribution_psi

    ev = load(spark, sf_dir, "events")
    ref = ev.filter((F.col("event_id") / 16).cast("long") % 2 == 0)
    cur = ev.filter((F.col("event_id") / 16).cast("long") % 2 == 1) \
        .withColumn("value", F.col("value") * 1.5)
    return distribution_psi(ref, cur, [], "value")


# --------------------------------------------------------------------- #
# TPC-H completion (round 12): the 9 remaining queries of the 22,
# adapted to the trimmed schema where TPC-H columns are absent
# (no partsupp table, no commit/receipt dates, no shipmode/phone) —
# each adaptation preserves the query's PLAN SHAPE (the thing being
# exercised) and documents the substitution.
# --------------------------------------------------------------------- #

_TS = "timestamp_ntz"


def _ts(s: str):
    return F.lit(s).cast(_TS)


@query("q7_volume_shipping", oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
         AS revenue
FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
    OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2, 3
""")
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping): the two-nation bidirectional
    trade flow — a 5-way join where the SAME dimension (nation) joins
    twice under different roles, with a disjunctive cross-role
    predicate. Both nation copies broadcast; the disjunction
    evaluates join-local; only the fact-fact joins shuffle. Exact
    decimal revenue per (supplier nation, customer nation, year)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00")))
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = F.broadcast(load(spark, sf_dir, "supplier"))
    n1 = F.broadcast(load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_name").alias("cust_nation")))
    pair = (
        ((F.col("supp_nation") == "NATION_3")
         & (F.col("cust_nation") == "NATION_8"))
        | ((F.col("supp_nation") == "NATION_8")
           & (F.col("cust_nation") == "NATION_3")))
    disc = F.lit(1).cast("decimal(12,2)") - dec("l_discount")
    return (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(dec("l_extendedprice") * disc).cast("double")
             .alias("revenue")))


@query("q8_market_share", oracle="""
WITH base AS (
  SELECT year(o_orderdate) AS o_year,
         CAST(l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l_discount AS DECIMAL(12,2))) AS volume,
         n2.n_name AS supp_nation
  FROM part JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
SELECT o_year,
  round(CAST(SUM(CASE WHEN supp_nation = 'NATION_8' THEN volume
                      ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
        / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
FROM base GROUP BY o_year
""")
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape (national market share): an 8-way join with the
    nation dimension again in two roles (customer region gate,
    supplier nationality tag), then a conditional-share aggregation —
    share = NATION_8 volume / total volume per order year. Every
    dimension broadcasts; the share is a ratio of two exact decimal
    sums cast to double (6 dp release)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1998-01-01 00:00:00")))
    c = load(spark, sf_dir, "customer")
    p = F.broadcast(load(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"))
    s = F.broadcast(load(spark, sf_dir, "supplier"))
    n1 = F.broadcast(load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_regionkey").alias("n1_region")))
    n2 = F.broadcast(load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_name").alias("supp_nation")))
    r = F.broadcast(load(spark, sf_dir, "region").filter(
        F.col("r_name") == "AMERICA"))
    disc = F.lit(1).cast("decimal(12,2)") - dec("l_discount")
    vol = (dec("l_extendedprice") * disc).alias("volume")
    zero = F.lit(0).cast("decimal(12,2)")
    base = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("c_nationkey") == F.col("n1_key"))
        .join(r, F.col("n1_region") == F.col("r_regionkey"))
        .join(n2, F.col("s_nationkey") == F.col("n2_key"))
        .select(F.year("o_orderdate").alias("o_year"), vol,
                "supp_nation"))
    return base.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_8",
                         F.col("volume")).otherwise(zero))
            .cast("double")
            / F.sum("volume").cast("double"), 6).alias("mkt_share"))


@query("q9_product_type_profit", oracle="""
SELECT n_name AS nation, year(o_orderdate) AS o_year,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (1 - CAST(l_discount AS DECIMAL(12,2)))
           - CAST(0.80 AS DECIMAL(12,2))
             * CAST(p_retailprice AS DECIMAL(12,2))
             * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
    AS sum_profit
FROM part JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_type = 'PROMO'
GROUP BY 1, 2
""")
def q9_product_type_profit(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit): profit per supplier
    nation per year over a part-filtered 5-way join. ADAPTATION
    (trimmed schema has no partsupp): unit cost :=
    0.80 × p_retailprice stands in for ps_supplycost — same plan
    (the cost factor joins in from the part dimension), exact decimal
    arithmetic end-to-end. The part filter uses p_type = 'PROMO'
    (no LIKE-able p_name variety in the synthetic corpus)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    p = F.broadcast(load(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"))
    s = F.broadcast(load(spark, sf_dir, "supplier"))
    n = F.broadcast(load(spark, sf_dir, "nation"))
    disc = F.lit(1).cast("decimal(12,2)") - dec("l_discount")
    cost = (F.lit("0.80").cast("decimal(12,2)")
            * dec("p_retailprice") * dec("l_quantity"))
    profit = dec("l_extendedprice") * disc - cost
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(profit).cast("double").alias("sum_profit")))


@query("q12_shipmode_priority", oracle="""
SELECT CASE l_suppkey % 3 WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP'
       ELSE 'TRUCK' END AS shipmode,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_suppkey % 3 IN (0, 1)
  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
""")
def q12_shipmode_priority(spark, sf_dir):
    """TPC-H Q12 shape (shipping-mode priority): late lines bucketed
    by mode, counting high- vs low-priority orders. ADAPTATIONS
    (trimmed schema): shipmode := l_suppkey mod 3 mapped to
    MAIL/SHIP/TRUCK (no l_shipmode column; the q22 nationkey-mod
    precedent), lateness := shipped more than 60 days after the order
    date (no commit/receipt dates). The plan shape survives intact:
    one fact-fact join with a CROSS-TABLE inequality predicate the
    optimizer cannot push to either scan, then a two-way conditional
    count."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
        & (F.col("l_suppkey") % 3).isin(0, 1))
    mode = (
        F.when(F.col("l_suppkey") % 3 == 0, "MAIL")
        .when(F.col("l_suppkey") % 3 == 1, "SHIP")
        .otherwise("TRUCK").alias("shipmode"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy(mode)
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long")
            .alias("low_line_count")))


@query("q21_waiting_suppliers", oracle="""
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL 90 DAY),
multi AS (SELECT l_orderkey FROM lineitem
          GROUP BY 1 HAVING COUNT(DISTINCT l_suppkey) > 1),
soleblame AS (
  SELECT DISTINCT late.l_orderkey, late.l_suppkey
  FROM late JOIN multi ON multi.l_orderkey = late.l_orderkey
  WHERE NOT EXISTS (
    SELECT 1 FROM late l2
    WHERE l2.l_orderkey = late.l_orderkey
      AND l2.l_suppkey <> late.l_suppkey))
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM soleblame JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name IN ('NATION_3', 'NATION_13', 'NATION_23')
GROUP BY s_name
""")
def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting): for
    finalized multi-supplier orders, count per supplier the orders
    where it was the ONLY late supplier — the classic
    EXISTS + NOT-EXISTS double-correlation. ADAPTATION (no
    commit/receipt dates): late := shipped more than 90 days after
    the order date; nation gate widened to three nations (one nation
    is 1/25 of the synthetic corpus). Plan: the late set computes
    once; 'some other supplier in the order' is a semi-join against
    the multi-supplier order list; 'no other LATE supplier' is an
    anti-join of the late set against itself keyed on order with a
    supplier inequality — both correlations become keyed joins, no
    per-row subquery."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F")
    li = load(spark, sf_dir, "lineitem")
    late = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey").distinct())
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.count_distinct("l_suppkey").alias("__ns"))
        .filter(F.col("__ns") > 1)
        .select("l_orderkey"))
    # "no OTHER late supplier in the order" over the distinct late set
    # is exactly "the order has ONE distinct late supplier" — a keyed
    # aggregation, not the late-vs-late anti self-join (which cost two
    # extra exchanges + sorts AND forced an eager checkpoint of `late`
    # because two branches consumed it; guide §2.4). count(*) == 1 on
    # the distinct (orderkey, suppkey) rows IS count_distinct == 1,
    # and max(suppkey) recovers that sole supplier.
    sole = (
        late.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("__nl"),
             F.max("l_suppkey").alias("l_suppkey"))
        .filter(F.col("__nl") == 1)
        .select("l_orderkey", "l_suppkey")
        .join(multi, "l_orderkey", "left_semi"))
    s = F.broadcast(load(spark, sf_dir, "supplier"))
    n = F.broadcast(load(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_13", "NATION_23")))
    return (
        sole.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait")))


@query("q2_min_cost_supplier", oracle="""
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY 1, 2),
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
cand AS (
  SELECT p_partkey, eu.s_suppkey, eu.s_name, eu.s_acctbal,
         eu.n_name, cost.unit_cost
  FROM part JOIN cost ON p_partkey = l_partkey
  JOIN eu ON eu.s_suppkey = cost.l_suppkey
  WHERE p_size = 3 AND p_type = 'SMALL'),
best AS (SELECT p_partkey, MIN(unit_cost) AS best_cost
         FROM cand GROUP BY 1)
SELECT cand.s_acctbal, cand.s_name, cand.n_name, cand.p_partkey,
       round(cand.unit_cost, 6) AS unit_cost
FROM cand JOIN best ON cand.p_partkey = best.p_partkey
                   AND cand.unit_cost = best.best_cost
ORDER BY cand.s_acctbal DESC, cand.n_name, cand.s_name,
         cand.p_partkey LIMIT 25
""")
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (minimum-cost supplier): for each qualifying
    part, the region-gated supplier(s) offering it at the minimum
    cost — the correlated-MIN-subquery query. ADAPTATION (no
    partsupp): a supplier's unit cost for a part := its minimum
    observed l_extendedprice / l_quantity in lineitem (an exact
    IEEE division both engines compute bit-identically from the same
    parquet doubles). The correlation compiles to one per-part MIN
    aggregate joined back on (part, cost) — never a per-row
    subquery. Deterministic top-25 (full tie-break order)."""
    li = load(spark, sf_dir, "lineitem")
    cost = li.groupBy(
        F.col("l_partkey"), F.col("l_suppkey")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
          .alias("unit_cost"))
    s = load(spark, sf_dir, "supplier")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(load(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"))
    eu = (
        s.join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    p = F.broadcast(load(spark, sf_dir, "part").filter(
        (F.col("p_size") == 3) & (F.col("p_type") == "SMALL")))
    cand = (
        cost.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(eu), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("p_partkey", "s_name", "s_acctbal", "n_name",
                "unit_cost"))
    best = cand.groupBy(
        F.col("p_partkey").alias("__bk")
    ).agg(F.min("unit_cost").alias("best_cost"))
    return (
        cand.join(
            best,
            (F.col("p_partkey") == F.col("__bk"))
            & (F.col("unit_cost") == F.col("best_cost")))
        .select("s_acctbal", "s_name", "n_name", "p_partkey",
                F.round("unit_cost", 6).alias("unit_cost"))
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(25))


@query("q11_important_stock", oracle="""
WITH v AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS pvd
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_15'
  GROUP BY 1)
SELECT l_partkey AS partkey,
       round(CAST(pvd AS DOUBLE), 2) AS part_value
FROM v
WHERE CAST(pvd AS DOUBLE)
      > (SELECT CAST(SUM(pvd) AS DOUBLE) / COUNT(*) * 2.5 FROM v)
""")
def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape (important stock identification): per-part
    value from one nation's suppliers, kept where the value exceeds
    a corpus-derived threshold — the scalar-subquery-threshold
    query. ADAPTATION (no partsupp): part value := that nation's
    lineitem revenue for the part (exact decimal sum, double
    release); the threshold is 2.5× the MEAN part value rather than
    TPC-H's fixed fraction-of-total, because a fixed fraction is
    scale-VARIANT (at 10× data each part's share shrinks 10× — the
    sf1 rehearsal matched 0 rows, VERDICT r12 #3) while a multiple
    of the mean keeps the survivor fraction stable at every SF
    (sf0.001/0.01/0.1: 4/45/519 rows). The scalar aggregate is a
    one-row broadcast joined as a cross filter — the same exact
    decimal total feeds both branches from ONE aggregation pass."""
    li = load(spark, sf_dir, "lineitem")
    s = F.broadcast(load(spark, sf_dir, "supplier"))
    n = F.broadcast(load(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_15"))
    disc = F.lit(1).cast("decimal(12,2)") - dec("l_discount")
    v = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(dec("l_extendedprice") * disc).alias("__pvd"))
        .localCheckpoint(eager=True))
    # the threshold derives from the EXACT decimal total (a double sum
    # would be partition-order-dependent, so the strict > comparison
    # could flip on boundary parts between engines/runs); the decimal
    # per-part value compares against it as the identical double cast
    total = v.agg(
        (F.sum("__pvd").cast("double") / F.count(F.lit(1)) * 2.5)
        .alias("__thr"))
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("__pvd").cast("double") > F.col("__thr"))
        .select("partkey",
                F.round(F.col("__pvd").cast("double"), 2)
                .alias("part_value")))


@query("q16_supplier_part_counts", oracle="""
WITH excl AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#12' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 13)
  AND l_suppkey IS NOT NULL
  AND l_suppkey NOT IN (SELECT s_suppkey FROM excl)
GROUP BY 1, 2, 3
""")
def q16_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16 shape (parts/supplier relationship): distinct
    supplier counts per (brand, type, size) with a negated brand/type
    gate and a NOT-IN supplier exclusion. ADAPTATIONS (no partsupp /
    complaint comments): the part-supplier relation := observed
    lineitem pairs; excluded suppliers := negative account balance.
    The NOT IN compiles to a broadcast ANTI join (the exclusion list
    is supplier-sized); the distinct count shuffles once on the
    group keys. NULL-key alignment (ADVICE r12; r13 self-review #3):
    SQL ``NOT IN`` over a non-empty list drops NULL-keyed probe rows
    while ``left_anti`` keeps them — and over an EMPTY list keeps
    them — so BOTH sides filter ``l_suppkey IS NOT NULL`` explicitly
    (the oracle too): equivalence then holds regardless of key
    nullability or exclusion-list emptiness. A no-op on the driver
    fixtures (non-null key)."""
    li = load(spark, sf_dir, "lineitem")
    p = F.broadcast(load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#12")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13)))
    excl = load(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey"))
    return (
        li.filter(F.col("l_suppkey").isNotNull())
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(excl), "l_suppkey", "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long")
             .alias("supplier_cnt")))


@query("q20_promotion_suppliers", oracle="""
WITH shipped AS (
  SELECT l_suppkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_type = 'PROMO'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2)))
         > CAST(50 AS DECIMAL(12,2)))
SELECT s_name, round(s_acctbal, 2) AS s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name IN ('NATION_13', 'NATION_15')
  AND s_suppkey IN (SELECT l_suppkey FROM shipped)
""")
def q20_promotion_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (potential part promotion): suppliers in
    selected nations whose shipments of the promoted part class in
    one year exceed a volume threshold — the nested-IN-subquery
    query. ADAPTATION (no partsupp availqty): the threshold applies
    to the supplier's total shipped PROMO quantity (exact decimal
    sum) instead of availqty vs half demand. The inner IN compiles
    to an aggregate + SEMI join; the nation gate broadcasts."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00")))
    p = F.broadcast(load(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"))
    shipped = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.sum(dec("l_quantity")).alias("__q"))
        .filter(F.col("__q") > F.lit(50).cast("decimal(12,2)"))
        .select("s_suppkey"))
    s = load(spark, sf_dir, "supplier")
    n = F.broadcast(load(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_13", "NATION_15")))
    return (
        s.join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(shipped, "s_suppkey", "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal")))


_SPEARMAN_ORACLE = """
WITH b AS (SELECT l_quantity AS x, l_extendedprice AS y
  FROM lineitem WHERE l_quantity IS NOT NULL
    AND l_extendedprice IS NOT NULL
    AND NOT isnan(l_quantity) AND NOT isnan(l_extendedprice)),
r AS (SELECT
    2 * rank() OVER (ORDER BY x)
      + count(*) OVER (PARTITION BY x) - 1 AS u,
    2 * rank() OVER (ORDER BY y)
      + count(*) OVER (PARTITION BY y) - 1 AS v
  FROM b),
t AS (SELECT COUNT(*) AS n,
    SUM(CAST(u AS HUGEINT)) AS su, SUM(CAST(v AS HUGEINT)) AS sv,
    SUM(CAST(u AS HUGEINT) * v) AS suv,
    SUM(CAST(u AS HUGEINT) * u) AS suu,
    SUM(CAST(v AS HUGEINT) * v) AS svv FROM r)
SELECT CAST(n AS BIGINT) AS n,
  CASE WHEN (CAST(n AS DOUBLE) * CAST(suu AS DOUBLE)
             - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))
           * (CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
              - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) > 0
  THEN round((CAST(n AS DOUBLE) * CAST(suv AS DOUBLE)
              - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(suu AS DOUBLE)
                     - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
                       - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))), 6)
  END AS rho
FROM t
"""


@query("diag_spearman", oracle=_SPEARMAN_ORACLE)
def diag_spearman(spark, sf_dir):
    """Spearman rank correlation (`spearman_corr`,
    operators/profile.py; Spearman 1904) — the tie-aware monotone-
    association diagnostic beside the Pearson `correlation_matrix`:
    midrank integers pool in six exact decimal sums, one closed-form
    double release. Fixture: lineitem quantity vs extended price —
    positively associated with HEAVY quantity ties (50 distinct
    values), so the tie-midrank path is genuinely exercised."""
    from ..operators.profile import spearman_corr

    li = load(spark, sf_dir, "lineitem")
    return spearman_corr(li, "l_quantity", "l_extendedprice")


_KENDALL_ORACLE = """
WITH b AS (SELECT l_quantity AS x,
    floor(l_extendedprice / 5000) AS y
  FROM lineitem WHERE l_quantity IS NOT NULL
    AND l_extendedprice IS NOT NULL
    AND NOT isnan(l_quantity) AND NOT isnan(l_extendedprice)),
cells AS (SELECT x, y, COUNT(*) AS c FROM b GROUP BY 1, 2),
tot AS (SELECT SUM(c) AS n FROM cells),
tx AS (SELECT SUM(t * (t - 1) / 2) AS n1
  FROM (SELECT SUM(c) AS t FROM cells GROUP BY x)),
ty AS (SELECT SUM(t * (t - 1) / 2) AS n2
  FROM (SELECT SUM(c) AS t FROM cells GROUP BY y)),
cd AS (SELECT
    COALESCE(SUM(CASE WHEN a.y < b2.y
                      THEN CAST(a.c AS HUGEINT) * b2.c END), 0) AS cc,
    COALESCE(SUM(CASE WHEN a.y > b2.y
                      THEN CAST(a.c AS HUGEINT) * b2.c END), 0) AS dd
  FROM cells a JOIN cells b2 ON a.x < b2.x)
SELECT CAST(n AS BIGINT) AS n,
  CAST(cc AS BIGINT) AS concordant,
  CAST(dd AS BIGINT) AS discordant,
  CASE WHEN n * (n - 1) / 2 - n1 > 0 AND n * (n - 1) / 2 - n2 > 0
       THEN round(CAST(cc - dd AS DOUBLE)
                  / sqrt(CAST(n * (n - 1) / 2 - n1 AS DOUBLE)
                         * CAST(n * (n - 1) / 2 - n2 AS DOUBLE)), 6)
  END AS tau_b
FROM tot, tx, ty, cd
"""


@query("diag_kendall_tau", oracle=_KENDALL_ORACLE)
def diag_kendall_tau(spark, sf_dir):
    """Kendall's tau-b (`kendall_tau_b`, operators/profile.py;
    Kendall 1945) — the pair-concordance rank correlation beside
    `diag_spearman`'s rank-Pearson, tie-corrected on both axes.
    Fixture: lineitem quantity vs the 5000-wide extended-price bucket
    — BOTH axes heavily tied (~1050 distinct cells at EVERY SF, the
    cardinality-bound contingency reduction's design case: the C/D
    cell pair join is ~1M broadcast pairs whether the table has 60k
    rows or 6B). The oracle replays the identical cell algebra in
    HUGEINT."""
    from ..operators.profile import kendall_tau_b

    li = load(spark, sf_dir, "lineitem")
    return kendall_tau_b(
        li.withColumn("__yb", F.floor(F.col("l_extendedprice") / 5000)),
        "l_quantity", "__yb")


_ORDINAL_ASSOC_ORACLE = """
WITH b AS (SELECT l_quantity AS x,
    floor(l_extendedprice / 10000) AS y
  FROM lineitem WHERE l_quantity IS NOT NULL
    AND l_extendedprice IS NOT NULL
    AND NOT isnan(l_quantity) AND NOT isnan(l_extendedprice)),
cells AS (SELECT x, y, COUNT(*) AS c FROM b GROUP BY 1, 2),
tot AS (SELECT SUM(c) AS n, COUNT(DISTINCT x) AS nr,
    COUNT(DISTINCT y) AS nc FROM cells),
tx AS (SELECT SUM(t * (t - 1) / 2) AS n1
  FROM (SELECT SUM(c) AS t FROM cells GROUP BY x)),
ty AS (SELECT SUM(t * (t - 1) / 2) AS n2
  FROM (SELECT SUM(c) AS t FROM cells GROUP BY y)),
cd AS (SELECT
    COALESCE(SUM(CASE WHEN a.y < b2.y
                      THEN CAST(a.c AS HUGEINT) * b2.c END), 0) AS cc,
    COALESCE(SUM(CASE WHEN a.y > b2.y
                      THEN CAST(a.c AS HUGEINT) * b2.c END), 0) AS dd
  FROM cells a JOIN cells b2 ON a.x < b2.x)
SELECT CAST(n AS BIGINT) AS n,
  CAST(nr AS BIGINT) AS n_x_levels,
  CAST(nc AS BIGINT) AS n_y_levels,
  CAST(cc AS BIGINT) AS concordant,
  CAST(dd AS BIGINT) AS discordant,
  CASE WHEN cc + dd > 0
       THEN round(CAST(cc - dd AS DOUBLE)
                  / CAST(cc + dd AS DOUBLE), 6) END AS gamma,
  CASE WHEN n * (n - 1) / 2 - n1 > 0
       THEN round(CAST(cc - dd AS DOUBLE)
                  / CAST(n * (n - 1) / 2 - n1 AS DOUBLE), 6)
  END AS somers_d_yx,
  CASE WHEN n * (n - 1) / 2 - n2 > 0
       THEN round(CAST(cc - dd AS DOUBLE)
                  / CAST(n * (n - 1) / 2 - n2 AS DOUBLE), 6)
  END AS somers_d_xy,
  CASE WHEN CAST(n AS DOUBLE) * n * (least(nr, nc) - 1) > 0
       THEN round(2 * CAST(least(nr, nc) AS DOUBLE)
                  * CAST(cc - dd AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                     * (CAST(least(nr, nc) AS DOUBLE) - 1)), 6)
  END AS tau_c
FROM tot, tx, ty, cd
"""


@query("diag_ordinal_assoc", oracle=_ORDINAL_ASSOC_ORACLE)
def diag_ordinal_assoc(spark, sf_dir):
    """Ordinal-association battery (`ordinal_association`,
    operators/profile.py; Goodman-Kruskal 1954 gamma, Somers 1962 D
    both directions, Stuart 1953 tau-c) — the three pair-concordance
    measures a contingency analysis reports beside `diag_kendall_tau`,
    all from the SAME distinct-cell reduction. Fixture: lineitem
    quantity (50 levels) vs the 10000-wide extended-price bucket
    (~11 levels) — a deliberately NON-SQUARE table so tau-c's
    min(R,C) correction differs from tau-b, with heavy ties on both
    axes. The oracle replays the identical cell algebra in HUGEINT."""
    from ..operators.profile import ordinal_association

    li = load(spark, sf_dir, "lineitem")
    return ordinal_association(
        li.withColumn("__yb", F.floor(F.col("l_extendedprice") / 10000)),
        "l_quantity", "__yb")


_MCNEMAR_ORACLE = """
WITH b AS (SELECT l_returnflag = 'R' AS x, l_quantity > 25 AS y
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL),
o AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
    CAST(SUM(CASE WHEN x AND y THEN 1 ELSE 0 END) AS BIGINT)
      AS both_pos,
    CAST(SUM(CASE WHEN NOT x AND NOT y THEN 1 ELSE 0 END) AS BIGINT)
      AS both_neg,
    CAST(SUM(CASE WHEN x AND NOT y THEN 1 ELSE 0 END) AS BIGINT)
      AS only_x,
    CAST(SUM(CASE WHEN NOT x AND y THEN 1 ELSE 0 END) AS BIGINT)
      AS only_y
  FROM b)
SELECT n_pairs, both_pos, both_neg, only_x, only_y,
  CASE WHEN only_x + only_y > 0
       THEN round(CAST(only_x - only_y AS DOUBLE)
                  * CAST(only_x - only_y AS DOUBLE)
                  / CAST(only_x + only_y AS DOUBLE), 6) END AS chi2,
  CASE WHEN only_x + only_y > 0
       THEN round((abs(CAST(only_x - only_y AS DOUBLE)) - 1)
                  * (abs(CAST(only_x - only_y AS DOUBLE)) - 1)
                  / CAST(only_x + only_y AS DOUBLE), 6)
  END AS chi2_corrected,
  CASE WHEN only_y > 0
       THEN round(CAST(only_x AS DOUBLE) / CAST(only_y AS DOUBLE), 6)
  END AS odds_ratio
FROM o
"""


@query("diag_mcnemar", oracle=_MCNEMAR_ORACLE)
def diag_mcnemar(spark, sf_dir):
    """McNemar's paired-binary test (`mcnemar_test`,
    operators/drift.py; McNemar 1947, Edwards 1948 continuity
    correction) — the 2-treatment special case beside `cochran_q`:
    discordant-cell symmetry plus the conditional odds ratio, one
    map-side-combinable aggregation. Fixture: per-lineitem paired
    indicators returned-flag vs quantity>25 — both cells populated
    at every SF. The oracle replays the four conditional counts and
    both chi-square releases exactly."""
    from ..operators.drift import mcnemar_test

    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isNotNull()
        & F.col("l_quantity").isNotNull())
    return mcnemar_test(
        li, F.col("l_returnflag") == "R", F.col("l_quantity") > 25)


_BROWN_FORSYTHE_ORACLE = """
WITH b AS (SELECT CAST(c_mktsegment AS VARCHAR) AS g,
    CAST(c_acctbal AS DECIMAL(20,6)) AS v
  FROM customer WHERE c_mktsegment IS NOT NULL
    AND c_acctbal IS NOT NULL AND NOT isnan(c_acctbal)),
gv AS (SELECT g, v, COUNT(*) AS c FROM b GROUP BY 1, 2),
pos AS (SELECT g, v, c,
    SUM(c) OVER (PARTITION BY g ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    SUM(c) OVER (PARTITION BY g) AS ng
  FROM gv),
p2 AS (SELECT *, cum - c AS prev,
    CAST(floor((ng + 1) / 2) AS BIGINT) AS lo,
    CAST(floor((ng + 2) / 2) AS BIGINT) AS hi FROM pos),
med AS (SELECT g,
    CAST((MAX(CASE WHEN prev < lo AND lo <= cum THEN v END)
        + MAX(CASE WHEN prev < hi AND hi <= cum THEN v END)) / 2
      AS DECIMAL(22,7)) AS med
  FROM p2 GROUP BY g),
z AS (SELECT b.g, abs(CAST(b.v AS DECIMAL(22,7)) - m.med) AS zz
  FROM b JOIN med m ON b.g = m.g),
per AS (SELECT g, COUNT(*) AS n, SUM(zz) AS s,
    SUM(CAST(zz * 10000000 AS HUGEINT)
        * CAST(zz * 10000000 AS HUGEINT)) AS q
  FROM z GROUP BY g),
f AS (SELECT SUM(n) AS n, COUNT(*) AS k,
    SUM(CAST(s AS DECIMAL(38,7))) AS stot,
    SUM(CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 2)
        AS DECIMAL(28,2))) AS ssb0,
    SUM(CAST(round(CAST(q AS DOUBLE) / 1e14
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 2)
        AS DECIMAL(28,2))) AS ssw
  FROM per)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
  CASE WHEN k >= 2 AND n > k AND CAST(ssw AS DOUBLE) > 0
       THEN round(
         ((CAST(ssb0 AS DOUBLE)
           - round(CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE)
                   / CAST(n AS DOUBLE), 2))
          / (CAST(k AS DOUBLE) - 1.0))
         / (CAST(ssw AS DOUBLE)
            / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6)
  END AS w_stat
FROM f
"""


@query("diag_brown_forsythe", oracle=_BROWN_FORSYTHE_ORACLE)
def diag_brown_forsythe(spark, sf_dir):
    """Brown-Forsythe variance-homogeneity test (`brown_forsythe`,
    operators/drift.py; Brown & Forsythe 1974) — the median-centered
    Levene: the ANOVA F over |x − group median|, the assumption check
    that belongs BEFORE `diag_anova` on the SAME fixture (customer
    account balance by market segment). Exact group medians from the
    distinct-value straddle (no approx percentile), exact decimal
    deviation pools, the diag_anova 2-dp cross-group term snap; two
    keyed aggs + one keyed distinct-frame window + one join back."""
    from ..operators.drift import brown_forsythe

    cust = load(spark, sf_dir, "customer")
    return brown_forsythe(cust, "c_mktsegment", "c_acctbal")


_JSD_ORACLE = """
WITH b AS (SELECT event_type AS c, user_id % 2 = 0 AS a
  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
per AS (SELECT c, SUM(CASE WHEN a THEN 1 ELSE 0 END) AS na,
    SUM(CASE WHEN a THEN 0 ELSE 1 END) AS nb FROM b GROUP BY c),
t AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM per),
terms AS (SELECT na, nb, ta, tb,
    CAST(na AS DOUBLE) / CAST(ta AS DOUBLE) AS pa,
    CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE) AS pb
  FROM per, t),
f AS (SELECT MAX(ta) AS ta, MAX(tb) AS tb, COUNT(*) AS k,
    SUM(CAST(round(
      (CASE WHEN na > 0 THEN pa * ln(pa / ((pa + pb) / 2))
            ELSE 0.0 END
       + CASE WHEN nb > 0 THEN pb * ln(pb / ((pa + pb) / 2))
              ELSE 0.0 END) / 2, 9) AS DECIMAL(38,9))) AS s
  FROM terms)
SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
  CAST(k AS BIGINT) AS k_categories,
  CASE WHEN ta > 0 AND tb > 0
       THEN round(CAST(s AS DOUBLE), 6) END AS jsd_nats,
  CASE WHEN ta > 0 AND tb > 0
       THEN round(CAST(s AS DOUBLE) / 0.6931471805599453, 6)
  END AS jsd_bits,
  CASE WHEN ta > 0 AND tb > 0
       THEN round(sqrt(GREATEST(CAST(s AS DOUBLE), 0.0)
                       / 0.6931471805599453), 6)
  END AS js_distance
FROM f
"""


@query("diag_jensen_shannon", oracle=_JSD_ORACLE)
def diag_jensen_shannon(spark, sf_dir):
    """Jensen-Shannon divergence (`jensen_shannon`,
    operators/drift.py; Lin 1991, Endres & Schindelin 2003 distance
    form) — the symmetric bounded drift measure beside
    `diag_categorical_psi` (no smoothing needed: zero-mass categories
    contribute exactly q·ln2/2). Fixture: event-type distributions of
    even- vs odd-id users. One keyed count agg + a category-frame
    fold, 9-dp term snap, exact decimal pool; nats, bits, and the
    metric sqrt release."""
    from ..operators.drift import jensen_shannon

    ev = load(spark, sf_dir, "events")
    return jensen_shannon(
        ev, F.col("user_id") % 2 == 0, "event_type")


_CHANGEPOINT_ORACLE = """
WITH b AS (SELECT user_id AS e, CAST(value AS DECIMAL(20,6)) AS x,
    ts, event_id
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
seq AS (SELECT e, x,
    row_number() OVER w AS t,
    SUM(x) OVER (PARTITION BY e ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sl
  FROM b WINDOW w AS (PARTITION BY e ORDER BY ts, event_id)),
tot AS (SELECT e, MAX(t) AS n, SUM(x) AS s FROM seq GROUP BY e),
cand AS (SELECT seq.e, t, n, sl, s,
    round(CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE)
            / CAST(t AS DOUBLE)
        + (CAST(s AS DOUBLE) - CAST(sl AS DOUBLE))
          * (CAST(s AS DOUBLE) - CAST(sl AS DOUBLE))
            / (CAST(n AS DOUBLE) - CAST(t AS DOUBLE))
        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
            / CAST(n AS DOUBLE), 9) AS g
  FROM seq JOIN tot USING (e)
  WHERE t >= 2 AND n - t >= 2),
best AS (SELECT *, row_number() OVER (PARTITION BY e
           ORDER BY g DESC, t ASC) AS rk FROM cand)
SELECT e AS user_id, CAST(n AS BIGINT) AS n,
  CAST(t AS BIGINT) AS split_t, round(g, 6) AS gain,
  round(CAST(sl AS DOUBLE) / t, 6) AS mean_left,
  round((CAST(s AS DOUBLE) - CAST(sl AS DOUBLE)) / (n - t), 6)
    AS mean_right
FROM best WHERE rk = 1
UNION ALL
SELECT e AS user_id, CAST(n AS BIGINT) AS n,
  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM tot WHERE n < 4
"""


@query("timeseries_changepoint", oracle=_CHANGEPOINT_ORACLE)
def timeseries_changepoint(spark, sf_dir):
    """Single-changepoint binary segmentation per entity
    (`changepoint_binary`, operators/timeseries.py; Scott & Knott
    1974) — WHERE each user's event-value level shifted, completing
    `timeseries_cusum`'s did-it-drift excursion: argmax of the
    between-segment sum of squares over admissible splits
    (min_segment=2), 9-dp-snapped gains so the (gain desc, t asc)
    winner is engine-identical. One keyed sequence window + one
    keyed argmax window, exact decimal prefix sums; too-short
    entities release NULL splits."""
    from ..operators.timeseries import changepoint_binary

    ev = load(spark, sf_dir, "events")
    return changepoint_binary(
        ev, "user_id", "ts", "value", order_tiebreak="event_id",
        min_segment=2)


_FRIEDMAN_ORACLE = """
WITH b AS (SELECT doc_id % 100 AS blk, doc_id // 100 AS trt,
    length(text) AS v
  FROM documents WHERE doc_id < 300 AND text IS NOT NULL),
r AS (SELECT blk, trt,
    2 * rank() OVER (PARTITION BY blk ORDER BY v)
      + count(*) OVER (PARTITION BY blk, v) - 1 AS u
  FROM b),
pt AS (SELECT trt, SUM(CAST(u AS HUGEINT)) AS uj FROM r GROUP BY trt),
t AS (SELECT COUNT(*) // 3 AS n,
    SUM(CAST(u AS HUGEINT) * u) AS ssq FROM r),
f AS (SELECT MAX(n) AS n, MAX(ssq) AS ssq,
    SUM((uj - n * 4) * (uj - n * 4)) AS num FROM pt, t)
SELECT CAST(n AS BIGINT) AS n_blocks, CAST(3 AS BIGINT) AS k,
  CASE WHEN ssq - n * 48 > 0
       THEN round(2.0 * CAST(num AS DOUBLE)
                  / CAST(ssq - n * 48 AS DOUBLE), 6) END AS q_stat
FROM f
"""


@query("diag_friedman", oracle=_FRIEDMAN_ORACLE)
def diag_friedman(spark, sf_dir):
    """Friedman repeated-measures rank test (`friedman_test`,
    operators/drift.py; Friedman 1937, tie-general Conover form) —
    the matched-design member of the rank-test family
    (`diag_kruskal_wallis` is its independent-groups sibling).
    Fixture: a COMPLETE 100-block x 3-treatment design carved from
    the shared doc_id<300 prefix (block = id%100, treatment =
    id//100), scored by text length — real within-block rank
    competition at every SF. All-integer doubled-midrank algebra in
    decimal(38,0); the completeness contract validates up front."""
    from ..operators.drift import friedman_test

    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 300)
    fx = docs.select(
        (F.col("doc_id") % 100).alias("blk"),
        F.floor(F.col("doc_id") / 100).cast("long").alias("trt"),
        F.length("text").alias("v"))
    return friedman_test(fx, "blk", "trt", "v")


_GINI_ORACLE = """
WITH b AS (SELECT CAST(o_totalprice AS DECIMAL(20,6)) AS v FROM orders
  WHERE o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)),
vc AS (SELECT v, COUNT(*) AS c FROM b GROUP BY 1),
per AS (SELECT v, c,
    COALESCE(SUM(c) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bb,
    SUM(c) OVER () AS n FROM vc),
f AS (SELECT MAX(n) AS n, MIN(v) AS mn,
    SUM(CAST(v AS DECIMAL(38,6)) * c) AS tot,
    SUM(CAST(v AS DECIMAL(38,6)) * (2 * bb + c - n) * c) AS num
  FROM per)
SELECT CAST(n AS BIGINT) AS n,
  round(CAST(tot AS DOUBLE), 6) AS total,
  round(CAST(tot AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
  CAST(mn AS DOUBLE) AS min_value,
  CASE WHEN mn >= 0 AND CAST(tot AS DOUBLE) > 0
       THEN round(CAST(num AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE)), 6)
  END AS gini
FROM f
"""


@query("diag_gini", oracle=_GINI_ORACLE)
def diag_gini(spark, sf_dir):
    """Gini concentration coefficient (`gini_coefficient`,
    operators/profile.py; Gini 1912) — the inequality diagnostic for
    curation (domain token share, per-author mass, label imbalance)
    over order totals: the rank form of the mean absolute difference
    collapsed onto the distinct-value frame (a c-row tie group at
    value x with bb rows below contributes x·c·(2bb+c−n) exactly).
    One count agg + one distinct-frame window + one fold, exact
    decimal pools; NULL on negative values or zero total (the
    no-eager-probe guard rides the release)."""
    from ..operators.profile import gini_coefficient

    orders = load(spark, sf_dir, "orders")
    return gini_coefficient(orders, "o_totalprice")


_WELCH_ORACLE = """
WITH b AS (SELECT CAST(l_extendedprice AS DECIMAL(20,6)) AS v,
    l_returnflag = 'R' AS a
  FROM lineitem WHERE l_extendedprice IS NOT NULL
    AND NOT isnan(l_extendedprice) AND l_returnflag IS NOT NULL),
t AS (SELECT
    SUM(CASE WHEN a THEN 1 ELSE 0 END) AS na,
    SUM(CASE WHEN a THEN 0 ELSE 1 END) AS nb,
    SUM(CASE WHEN a THEN v END) AS sa,
    SUM(CASE WHEN NOT a THEN v END) AS sb,
    SUM(CASE WHEN a THEN CAST(v * 1000000 AS HUGEINT)
                         * CAST(v * 1000000 AS HUGEINT) END) AS qa,
    SUM(CASE WHEN NOT a THEN CAST(v * 1000000 AS HUGEINT)
                             * CAST(v * 1000000 AS HUGEINT) END) AS qb
  FROM b),
f AS (SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
    CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
    CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd,
    CAST(qa AS DOUBLE) / 1e12 AS qad,
    CAST(qb AS DOUBLE) / 1e12 AS qbd
  FROM t),
g AS (SELECT *,
    (nad * qad - sad * sad) / (nad * (nad - 1.0)) AS va,
    (nbd * qbd - sbd * sbd) / (nbd * (nbd - 1.0)) AS vb
  FROM f),
h AS (SELECT *, va / nad + vb / nbd AS se2 FROM g)
SELECT na AS n_a, nb AS n_b,
  round(sad / nad, 6) AS mean_a, round(sbd / nbd, 6) AS mean_b,
  CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0
       THEN round((sad / nad - sbd / nbd) / sqrt(se2), 6)
  END AS t_stat,
  CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0
       THEN round((se2 * se2)
                  / ((va / nad) * (va / nad) / (nad - 1.0)
                     + (vb / nbd) * (vb / nbd) / (nbd - 1.0)), 6)
  END AS df_welch
FROM h
"""


@query("diag_welch_t", oracle=_WELCH_ORACLE)
def diag_welch_t(spark, sf_dir):
    """Welch's unequal-variance t-test (`welch_t_test`,
    operators/drift.py; Welch 1947, Ruxton 2006) — the mean
    comparison beside `diag_effect_size`'s d (how sure vs how big)
    and `diag_mann_whitney`'s rank z, with the Welch-Satterthwaite
    df released for the caller's table lookup. Fixture: lineitem
    extended price, returned vs not. The effect_size moment ladder
    verbatim (exact decimal sums, scaled-integer Σx² pools); ONE
    aggregation pass, no window."""
    from ..operators.drift import welch_t_test

    li = load(spark, sf_dir, "lineitem")
    return welch_t_test(
        li, F.col("l_returnflag") == "R", "l_extendedprice")


_CLIFFS_ORACLE = """
WITH b AS (SELECT l_quantity AS v, l_returnflag = 'R' AS a
  FROM lineitem WHERE l_quantity IS NOT NULL
    AND NOT isnan(l_quantity) AND l_returnflag IS NOT NULL),
vc AS (SELECT v, COUNT(*) AS c,
    SUM(CASE WHEN a THEN 1 ELSE 0 END) AS ca
  FROM b GROUP BY 1),
mid AS (SELECT ca, c,
    2 * COALESCE(SUM(c) OVER (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + c + 1 AS u2
  FROM vc),
t AS (SELECT SUM(c) AS n, SUM(ca) AS na,
    SUM(CAST(ca AS HUGEINT) * u2) AS r2a FROM mid),
f AS (SELECT na, n - na AS nb,
    r2a - CAST(na AS HUGEINT) * (na + 1) AS tu FROM t),
d AS (SELECT na, nb,
    CASE WHEN na > 0 AND nb > 0
         THEN round(CAST(tu - CAST(na AS HUGEINT) * nb AS DOUBLE)
                    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6)
    END AS delta
  FROM f)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, delta,
  CASE WHEN delta IS NOT NULL THEN
    CASE WHEN abs(delta) < 0.147 THEN 'negligible'
         WHEN abs(delta) < 0.33 THEN 'small'
         WHEN abs(delta) < 0.474 THEN 'medium'
         ELSE 'large' END
  END AS magnitude
FROM d
"""


@query("diag_cliffs_delta", oracle=_CLIFFS_ORACLE)
def diag_cliffs_delta(spark, sf_dir):
    """Cliff's delta (`cliffs_delta`, operators/drift.py; Cliff 1993)
    — the ordinal effect size beside `diag_effect_size`'s Cohen's d:
    dominance probability difference from the SAME doubled-midrank
    integer algebra as `diag_mann_whitney` (δ = (2U − n_a·n_b)/
    (n_a·n_b) — no pair enumeration), plus the Romano 2006 magnitude
    band on the 6-dp release. Fixture: lineitem quantity, returned
    vs not — heavy ties, near-zero δ (the band's 'negligible' arm).
    Distinct-value reduction; HUGEINT oracle replay."""
    from ..operators.drift import cliffs_delta

    li = load(spark, sf_dir, "lineitem")
    return cliffs_delta(li, F.col("l_returnflag") == "R", "l_quantity")


_EFFECT_SIZE_ORACLE = """
WITH b AS (SELECT CAST(value AS DECIMAL(20,6)) AS v,
    event_type = 'purchase' AS a
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
t AS (SELECT
    SUM(CASE WHEN a THEN 1 ELSE 0 END) AS na,
    SUM(CASE WHEN a THEN 0 ELSE 1 END) AS nb,
    SUM(CASE WHEN a THEN v END) AS sa,
    SUM(CASE WHEN NOT a THEN v END) AS sb,
    SUM(CASE WHEN a THEN CAST(v * 1000000 AS HUGEINT)
                         * CAST(v * 1000000 AS HUGEINT) END) AS qa,
    SUM(CASE WHEN NOT a THEN CAST(v * 1000000 AS HUGEINT)
                             * CAST(v * 1000000 AS HUGEINT) END) AS qb
  FROM b),
f AS (SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
    CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
    CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd,
    CAST(qa AS DOUBLE) / 1e12 AS qad,
    CAST(qb AS DOUBLE) / 1e12 AS qbd
  FROM t),
g AS (SELECT *,
    (nad * qad - sad * sad) / (nad * (nad - 1.0)) AS va,
    (nbd * qbd - sbd * sbd) / (nbd * (nbd - 1.0)) AS vb
  FROM f),
h AS (SELECT *,
    ((nad - 1.0) * va + (nbd - 1.0) * vb) / (nad + nbd - 2.0) AS pooled
  FROM g)
SELECT na AS n_a, nb AS n_b,
  round(sad / nad, 6) AS mean_a, round(sbd / nbd, 6) AS mean_b,
  CASE WHEN na >= 2 AND nb >= 2 AND pooled > 0
       THEN round((sad / nad - sbd / nbd) / sqrt(pooled), 6)
  END AS cohens_d,
  CASE WHEN na >= 2 AND nb >= 2 AND pooled > 0
       THEN round((sad / nad - sbd / nbd) / sqrt(pooled)
                  * (1.0 - 3.0 / (4.0 * (nad + nbd) - 9.0)), 6)
  END AS hedges_g
FROM h
"""


@query("diag_effect_size", oracle=_EFFECT_SIZE_ORACLE)
def diag_effect_size(spark, sf_dir):
    """Cohen's d + Hedges' g (`effect_size`, operators/drift.py;
    Cohen 1988, Hedges 1981) — the standardized mean-difference
    companion to `diag_mann_whitney`'s significance z: HOW BIG is the
    purchase-vs-rest value shift. Exact decimal sums, scaled-integer
    Σx² (the r13 lossy-decimal-square lesson), one aggregation pass,
    factors-as-double combine."""
    from ..operators.drift import effect_size

    ev = load(spark, sf_dir, "events")
    return effect_size(
        ev, F.col("event_type") == "purchase", "value")


_KRUSKAL_ORACLE = """
WITH b AS (SELECT CAST(l_returnflag AS VARCHAR) AS g, l_quantity AS v
  FROM lineitem WHERE l_returnflag IS NOT NULL
    AND l_quantity IS NOT NULL AND NOT isnan(l_quantity)),
vc AS (SELECT v, COUNT(*) AS c FROM b GROUP BY 1),
mid AS (SELECT v, c,
    2 * COALESCE(SUM(c) OVER (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + c + 1 AS u2
  FROM vc),
gc AS (SELECT g, v, COUNT(*) AS gcnt FROM b GROUP BY 1, 2),
pg AS (SELECT g, SUM(gcnt) AS ng,
    SUM(CAST(gcnt AS HUGEINT) * u2) AS ug
  FROM gc JOIN mid USING (v) GROUP BY g),
tot AS (SELECT SUM(c) AS n,
    SUM(CAST(c AS HUGEINT) * c * c - c) AS ties FROM vc),
terms AS (SELECT MAX(n) AS n, MAX(ties) AS ties, COUNT(*) AS k,
    SUM(CAST(round(
        CAST(ug - CAST(ng AS HUGEINT) * (n + 1) AS DOUBLE)
        * CAST(ug - CAST(ng AS HUGEINT) * (n + 1) AS DOUBLE)
        / CAST(ng AS DOUBLE), 9) AS DECIMAL(38,9))) AS s
  FROM pg, tot),
f AS (SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
    3.0 * CAST(s AS DOUBLE)
      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)) AS h,
    1 - CAST(ties AS DOUBLE)
      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
         - CAST(n AS DOUBLE)) AS c
  FROM terms)
SELECT n, k,
  CASE WHEN k >= 2 THEN round(h, 6) END AS h,
  CASE WHEN k >= 2 AND c > 0 THEN round(h / c, 6) END AS h_adj
FROM f
"""


@query("diag_kruskal_wallis", oracle=_KRUSKAL_ORACLE)
def diag_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H (`kruskal_wallis`, operators/drift.py;
    Kruskal & Wallis 1952) — the rank-based k-group location test
    beside `diag_anova` (parametric) and `diag_mann_whitney` (its
    k=2 case), tie-corrected. Fixture: lineitem quantity by return
    flag — 3 groups over 50 heavily-tied values, so both the midrank
    and the tie-correction paths are real. Distinct-value reduction
    (the spearman discipline: only the 50-row distinct frame enters
    the unpartitioned cumulative window); the oracle replays the
    identical rank algebra in HUGEINT with the same 9-dp per-group
    term snap."""
    from ..operators.drift import kruskal_wallis

    li = load(spark, sf_dir, "lineitem")
    return kruskal_wallis(li, "l_returnflag", "l_quantity")


_ACF_ORACLE = """
WITH b AS (SELECT user_id AS e, CAST(value AS DECIMAL(20,6)) AS x,
    ts, event_id
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
s AS (SELECT e, x,
    lead(x, 1) OVER w AS x1,
    lead(x, 2) OVER w AS x2,
    lead(x, 3) OVER w AS x3
  FROM b WINDOW w AS (PARTITION BY e ORDER BY ts, event_id)),
st AS (SELECT e, COUNT(*) AS n, SUM(x) AS sx FROM s GROUP BY 1),
j AS (SELECT s.e, s.x, s.x1, s.x2, s.x3, st.n,
    CAST(st.sx AS DOUBLE) / st.n AS xb
  FROM s JOIN st USING (e)),
agg AS (SELECT e, MAX(n) AS n,
    SUM(CAST(round((CAST(x AS DOUBLE) - xb)
                   * (CAST(x AS DOUBLE) - xb), 9)
        AS DECIMAL(38,9))) AS den,
    SUM(CASE WHEN x1 IS NOT NULL THEN CAST(round(
        (CAST(x AS DOUBLE) - xb) * (CAST(x1 AS DOUBLE) - xb), 9)
        AS DECIMAL(38,9)) END) AS num1,
    SUM(CASE WHEN x1 IS NOT NULL THEN 1 ELSE 0 END) AS m1,
    SUM(CASE WHEN x2 IS NOT NULL THEN CAST(round(
        (CAST(x AS DOUBLE) - xb) * (CAST(x2 AS DOUBLE) - xb), 9)
        AS DECIMAL(38,9)) END) AS num2,
    SUM(CASE WHEN x2 IS NOT NULL THEN 1 ELSE 0 END) AS m2,
    SUM(CASE WHEN x3 IS NOT NULL THEN CAST(round(
        (CAST(x AS DOUBLE) - xb) * (CAST(x3 AS DOUBLE) - xb), 9)
        AS DECIMAL(38,9)) END) AS num3,
    SUM(CASE WHEN x3 IS NOT NULL THEN 1 ELSE 0 END) AS m3
  FROM j GROUP BY 1)
SELECT e AS user_id, CAST(lag AS INTEGER) AS lag, CAST(n AS BIGINT) AS n,
  CAST(n_pairs AS BIGINT) AS n_pairs,
  CASE WHEN CAST(den AS DOUBLE) > 0 AND n_pairs > 0
       THEN round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
  END AS acf
FROM (
  SELECT e, n, den, 1 AS lag, num1 AS num, m1 AS n_pairs FROM agg
  UNION ALL
  SELECT e, n, den, 2 AS lag, num2 AS num, m2 AS n_pairs FROM agg
  UNION ALL
  SELECT e, n, den, 3 AS lag, num3 AS num, m3 AS n_pairs FROM agg)
"""


@query("timeseries_acf_entity", oracle=_ACF_ORACLE)
def timeseries_acf_entity(spark, sf_dir):
    """Per-entity sample autocorrelation at lags 1..3
    (`autocorrelation`, operators/timeseries.py; Box & Jenkins) —
    the persistence/seasonality profiler over each user's RAW
    event-value sequence, ordered by (ts, event_id) — keyed-window
    complement of `timeseries_acf`'s global per-day-mean series (that
    gate aggregates to a daily grid first; this one profiles every
    entity's own observation order). Exact decimal input snap,
    9-dp-decimal centered products (order-free sums), double release.
    One keyed window + two keyed aggregations, nothing global."""
    from ..operators.timeseries import autocorrelation

    ev = load(spark, sf_dir, "events")
    return autocorrelation(
        ev, "user_id", "ts", "value", lags=(1, 2, 3),
        order_tiebreak="event_id")


_PACF_ORACLE = f"""
WITH acf AS ({_ACF_ORACLE}),
p AS (SELECT user_id, MAX(n) AS n,
    MAX(CASE WHEN lag = 1 THEN acf END) AS r1,
    MAX(CASE WHEN lag = 2 THEN acf END) AS r2,
    MAX(CASE WHEN lag = 3 THEN acf END) AS r3
  FROM acf GROUP BY 1),
f AS (SELECT user_id, n, r1, r2, r3, 1 - r1 * r1 AS den2 FROM p),
g AS (SELECT *, (r2 - r1 * r1) / den2 AS p22 FROM f),
h AS (SELECT *, r1 * (1 - p22) AS p21 FROM g),
i AS (SELECT *, 1 - p21 * r1 - p22 * r2 AS den3 FROM h)
SELECT user_id, n, round(r1, 6) AS pacf1,
  CASE WHEN den2 <> 0 THEN round(p22, 6) END AS pacf2,
  CASE WHEN den2 <> 0 AND den3 <> 0
       THEN round((r3 - p21 * r2 - p22 * r1) / den3, 6) END AS pacf3
FROM i
"""


@query("timeseries_pacf_entity", oracle=_PACF_ORACLE)
def timeseries_pacf_entity(spark, sf_dir):
    """Per-entity partial autocorrelation at lags 1..3
    (`partial_autocorrelation`, operators/timeseries.py; Box &
    Jenkins / Durbin-Levinson unrolled) — the AR-order selector over
    each user's event-value sequence, computed from the RELEASED
    6-dp ACF values so both engines fold identical doubles. Same
    keyed shuffle shape as `timeseries_acf_entity` plus one keyed
    pivot fold."""
    from ..operators.timeseries import partial_autocorrelation

    ev = load(spark, sf_dir, "events")
    return partial_autocorrelation(
        ev, "user_id", "ts", "value", order_tiebreak="event_id")


_LJUNG_ORACLE = f"""
WITH acfv AS ({_ACF_ORACLE})
SELECT user_id, CAST(n AS BIGINT) AS n,
  CASE WHEN nvalid = 3
       THEN round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
                  * CAST(s AS DOUBLE), 6) END AS q
FROM (SELECT user_id, MAX(n) AS n,
        SUM(CASE WHEN acf IS NOT NULL AND n - lag > 0
                 THEN 1 ELSE 0 END) AS nvalid,
        SUM(CASE WHEN acf IS NOT NULL AND n - lag > 0
                 THEN CAST(round(acf * acf / CAST(n - lag AS DOUBLE),
                                 12) AS DECIMAL(38,12)) END) AS s
      FROM acfv GROUP BY 1)
"""


@query("timeseries_ljung_box", oracle=_LJUNG_ORACLE)
def timeseries_ljung_box(spark, sf_dir):
    """Per-entity Ljung-Box Q over lags 1..3 (`ljung_box`,
    operators/timeseries.py; Ljung & Box 1978) — the portmanteau
    whiteness test composing `timeseries_acf_entity`'s released ACF:
    Q = n(n+2)·Σ r_k²/(n−k), NULL when any lag is unusable (constant
    or too-short series). Folds RELEASED 6-dp ACF doubles (the PACF
    discipline — both engines combine identical values), 12-dp
    decimal per-lag terms, one extra keyed fold over the ACF plan."""
    from ..operators.timeseries import ljung_box

    ev = load(spark, sf_dir, "events")
    return ljung_box(
        ev, "user_id", "ts", "value", h=3, order_tiebreak="event_id")


_GRANGER_ORACLE = """
WITH b AS (SELECT user_id AS e,
    CAST(length(props) AS DECIMAL(20,6)) AS x,
    CAST(value AS DECIMAL(20,6)) AS y, ts, event_id
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    AND props IS NOT NULL),
s AS (SELECT e, y,
    lag(y, 1) OVER w AS u,
    lag(x, 1) OVER w AS v
  FROM b WINDOW w AS (PARTITION BY e ORDER BY ts, event_id)),
nobs AS (SELECT e, COUNT(*) AS n FROM s GROUP BY 1),
reg AS (SELECT * FROM s WHERE u IS NOT NULL),
st AS (SELECT e, COUNT(*) AS m, SUM(y) AS sy, SUM(u) AS su,
    SUM(v) AS sv FROM reg GROUP BY 1),
j AS (SELECT reg.e, st.m,
    CAST(reg.y AS DOUBLE) - CAST(st.sy AS DOUBLE) / st.m AS dy,
    CAST(reg.u AS DOUBLE) - CAST(st.su AS DOUBLE) / st.m AS du,
    CAST(reg.v AS DOUBLE) - CAST(st.sv AS DOUBLE) / st.m AS dv
  FROM reg JOIN st USING (e)),
mom AS (SELECT e, MAX(m) AS m,
    SUM(CAST(round(dy * dy, 9) AS DECIMAL(38,9))) AS syy,
    SUM(CAST(round(dy * du, 9) AS DECIMAL(38,9))) AS syu,
    SUM(CAST(round(dy * dv, 9) AS DECIMAL(38,9))) AS syv,
    SUM(CAST(round(du * du, 9) AS DECIMAL(38,9))) AS suu,
    SUM(CAST(round(du * dv, 9) AS DECIMAL(38,9))) AS suv,
    SUM(CAST(round(dv * dv, 9) AS DECIMAL(38,9))) AS svv
  FROM j GROUP BY 1),
calc AS (SELECT e, m,
    CAST(syy AS DOUBLE) AS syy, CAST(syu AS DOUBLE) AS syu,
    CAST(syv AS DOUBLE) AS syv, CAST(suu AS DOUBLE) AS suu,
    CAST(suv AS DOUBLE) AS suv, CAST(svv AS DOUBLE) AS svv,
    round(CAST(suu AS DOUBLE) * CAST(svv AS DOUBLE)
          - CAST(suv AS DOUBLE) * CAST(suv AS DOUBLE), 9) AS det
  FROM mom),
rel AS (SELECT e, m,
    CASE WHEN m > 3 AND round(suu, 9) > 0
         THEN round(syy - syu * syu / suu, 9) END AS ssr_r,
    CASE WHEN m > 3 AND round(suu, 9) > 0 AND det > 0
         THEN round(syy - (svv * syu * syu
                           - 2 * suv * syu * syv
                           + suu * syv * syv) / det, 9) END AS ssr_u
  FROM calc)
SELECT nobs.e AS user_id, CAST(nobs.n AS BIGINT) AS n,
  CAST(COALESCE(rel.m, 0) AS BIGINT) AS m,
  round(ssr_r, 6) AS ssr_r, round(ssr_u, 6) AS ssr_u,
  CASE WHEN ssr_u IS NOT NULL AND ssr_u > 0
       THEN round(GREATEST(round(ssr_r - ssr_u, 9), 0.0)
                  / (ssr_u / (m - 3)), 6) END AS f_stat
FROM nobs LEFT JOIN rel USING (e)
"""


@query("timeseries_granger", oracle=_GRANGER_ORACLE)
def timeseries_granger(spark, sf_dir):
    """Per-entity lag-1 Granger causality F-test (`granger_lag1`,
    operators/timeseries.py; Granger 1969) — does each user's
    props-payload size help predict the next event value beyond the
    value's own lag? Closed-form two-regressor OLS by Cramer's rule
    over exact centered second moments (the ACF precision ladder:
    decimal input snap, 9-dp decimal product pools, double release);
    NULL F for entities with m <= 3, collinear or constant
    regressors, or a perfect unrestricted fit. One keyed lag window +
    two keyed aggs + one co-partitioned join — `timeseries_acf_entity`'s
    exact plan shape."""
    from ..operators.timeseries import granger_lag1

    ev = load(spark, sf_dir, "events")
    return granger_lag1(
        ev.withColumn("props_len", F.length("props")),
        "user_id", "ts", "props_len", "value",
        order_tiebreak="event_id")


_CHANGEPOINT_VAR_ORACLE = """
WITH b AS (SELECT user_id AS e,
    CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS HUGEINT) AS u,
    ts, event_id
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
seq AS (SELECT e, u,
    row_number() OVER w AS t,
    SUM(u) OVER (PARTITION BY e ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sl,
    SUM(u * u) OVER (
      PARTITION BY e ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ql
  FROM b WINDOW w AS (PARTITION BY e ORDER BY ts, event_id)),
tot AS (SELECT e, MAX(t) AS n, SUM(u) AS s, SUM(u * u) AS q
  FROM seq GROUP BY 1),
cand AS (SELECT * FROM (
  SELECT seq.e, t, n,
    CAST(floor((CAST(ql AS DOUBLE) / t
      - (CAST(sl AS DOUBLE) / t) * (CAST(sl AS DOUBLE) / t))
      / 1e12 * 1.0e9) AS BIGINT) AS vl,
    CAST(floor(((CAST(q AS DOUBLE) - CAST(ql AS DOUBLE)) / (n - t)
      - ((CAST(s AS DOUBLE) - CAST(sl AS DOUBLE)) / (n - t))
        * ((CAST(s AS DOUBLE) - CAST(sl AS DOUBLE)) / (n - t)))
      / 1e12 * 1.0e9) AS BIGINT) AS vr,
    CAST(floor((CAST(q AS DOUBLE) / n
      - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
      / 1e12 * 1.0e9) AS BIGINT) AS vf
  FROM seq JOIN tot USING (e)
  WHERE t >= 5 AND n - t >= 5)
  WHERE vl > 0 AND vr > 0 AND vf > 0),
g AS (SELECT e, t, n, vl, vr,
    round(n * ln(CAST(vf AS DOUBLE) * 1.0e-9)
          - t * ln(CAST(vl AS DOUBLE) * 1.0e-9)
          - (n - t) * ln(CAST(vr AS DOUBLE) * 1.0e-9), 9) AS gg
  FROM cand),
best AS (SELECT *, row_number() OVER (PARTITION BY e
           ORDER BY gg DESC, t ASC) AS rk FROM g)
SELECT e AS user_id, CAST(n AS BIGINT) AS n,
  CAST(t AS BIGINT) AS split_t, round(gg, 6) AS gain,
  CAST((vl + 500) // 1000 AS DOUBLE) / 1e6 AS var_left,
  CAST((vr + 500) // 1000 AS DOUBLE) / 1e6 AS var_right
FROM best WHERE rk = 1
UNION ALL
SELECT tot.e AS user_id, CAST(n AS BIGINT) AS n,
  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM tot LEFT JOIN (SELECT e FROM best WHERE rk = 1) hit
  ON tot.e = hit.e
WHERE hit.e IS NULL
"""


@query("timeseries_changepoint_var", oracle=_CHANGEPOINT_VAR_ORACLE)
def timeseries_changepoint_var(spark, sf_dir):
    """Single variance-changepoint binary segmentation per entity
    (`changepoint_variance`, operators/timeseries.py; the Gaussian
    variance cost of Killick et al. 2012) — WHERE each user's
    event-value VOLATILITY shifted, the scale-shift sibling of
    `timeseries_changepoint`'s level cost: argmax of the
    log-likelihood gain n·ln(v) − t·ln(v_L) − (n−t)·ln(v_R) over
    admissible splits (min_segment=5), exact decimal prefix sums of
    x and x², 9-dp-snapped variances and gains, constant-side
    candidates inadmissible. One keyed sequence window + one keyed
    argmax window; entities with no admissible cut release NULL."""
    from ..operators.timeseries import changepoint_variance

    ev = load(spark, sf_dir, "events")
    return changepoint_variance(
        ev, "user_id", "ts", "value", order_tiebreak="event_id",
        min_segment=5)


_MANN_KENDALL_ORACLE = """
WITH b AS (SELECT user_id AS e, value AS x, ts, event_id
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    AND NOT isnan(value)),
seq AS (SELECT e, x, row_number() OVER (
    PARTITION BY e ORDER BY ts, event_id) AS t FROM b),
nn AS (SELECT e, COUNT(*) AS n FROM seq GROUP BY 1),
pr AS (SELECT a.e, SUM(CASE WHEN p.x > a.x THEN 1
                            WHEN p.x < a.x THEN -1 ELSE 0 END) AS s
  FROM seq a JOIN seq p ON a.e = p.e AND p.t > a.t GROUP BY 1),
ties AS (SELECT e, SUM(c * (c - 1) // 2) AS tie_pairs,
    SUM(c * (c - 1) * (2 * c + 5)) AS tie_term
  FROM (SELECT e, x, COUNT(*) AS c FROM seq GROUP BY 1, 2)
  GROUP BY 1),
f AS (SELECT nn.e, nn.n, COALESCE(pr.s, 0) AS s,
    ties.tie_pairs,
    nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_term AS var_num
  FROM nn JOIN ties ON nn.e = ties.e
  LEFT JOIN pr ON nn.e = pr.e)
SELECT CAST(e AS VARCHAR) AS user_id, CAST(n AS BIGINT) AS n,
  CAST(s AS BIGINT) AS s, CAST(tie_pairs AS BIGINT) AS n_tie_pairs,
  round(CAST(var_num AS DOUBLE) / 18.0, 6) AS var_s,
  CASE WHEN var_num > 0 THEN
    CASE WHEN s > 0
         THEN round((s - 1) / sqrt(CAST(var_num AS DOUBLE) / 18.0), 6)
         WHEN s < 0
         THEN round((s + 1) / sqrt(CAST(var_num AS DOUBLE) / 18.0), 6)
         ELSE 0.0 END
  END AS z
FROM f
"""


@query("timeseries_mann_kendall", oracle=_MANN_KENDALL_ORACLE)
def timeseries_mann_kendall(spark, sf_dir):
    """Per-entity Mann-Kendall trend test (`mann_kendall`,
    operators/timeseries.py; Mann 1945, Kendall 1975) — the
    distribution-free monotone-trend screen over each user's
    event-value sequence: exact-integer S via an O(n log² n)
    inversion count in the sequential-per-key applyInPandas escape
    hatch (holt_linear's documented shape — no pair enumeration
    anywhere in the engine; the ORACLE replays S with the quadratic
    pair join, the eval_edit_distance convention of oracle-only
    cost), tie-corrected variance, continuity-corrected z released
    HALF_UP. No input snap: only comparisons touch the values."""
    from ..operators.timeseries import mann_kendall

    ev = load(spark, sf_dir, "events")
    return mann_kendall(
        ev, "user_id", "ts", "value", order_tiebreak="event_id")


_AD_ORACLE = """
WITH b AS (SELECT event_type, value,
    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ia
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    AND NOT isnan(value)),
cells AS (SELECT event_type, value, COUNT(*) AS l, SUM(ia) AS la
  FROM b GROUP BY 1, 2),
sc AS (SELECT event_type, l, la,
    SUM(l) OVER (PARTITION BY event_type ORDER BY value
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bj,
    SUM(la) OVER (PARTITION BY event_type ORDER BY value
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ma,
    SUM(l) OVER (PARTITION BY event_type) AS n,
    SUM(la) OVER (PARTITION BY event_type) AS na
  FROM cells),
t AS (SELECT event_type, l, n, na, n - na AS nb, bj, ma,
    bj - ma AS mb
  FROM sc WHERE na > 0 AND n - na > 0 AND bj < n),
terms AS (SELECT event_type, n, na, nb,
    CAST(floor(CAST(CAST(l AS HUGEINT)
          * (CAST(n AS HUGEINT) * ma - CAST(na AS HUGEINT) * bj)
          * (CAST(n AS HUGEINT) * ma - CAST(na AS HUGEINT) * bj)
        AS DOUBLE)
      / (CAST(n AS DOUBLE) * bj * (n - bj) * na) * 1.0e9)
      AS BIGINT)
    + CAST(floor(CAST(CAST(l AS HUGEINT)
          * (CAST(n AS HUGEINT) * mb - CAST(nb AS HUGEINT) * bj)
          * (CAST(n AS HUGEINT) * mb - CAST(nb AS HUGEINT) * bj)
        AS DOUBLE)
      / (CAST(n AS DOUBLE) * bj * (n - bj) * nb) * 1.0e9)
      AS BIGINT) AS trm
  FROM t)
SELECT event_type, CAST(MAX(na) AS BIGINT) AS n_a,
  CAST(MAX(nb) AS BIGINT) AS n_b,
  CAST(COUNT(*) + 1 AS BIGINT) AS n_distinct,
  CAST((SUM(trm) + 500) // 1000 AS DOUBLE) / 1e6 AS a2
FROM terms GROUP BY 1
"""


@query("diag_anderson_darling", oracle=_AD_ORACLE)
def diag_anderson_darling(spark, sf_dir):
    """Exact two-sample Anderson-Darling drift test
    (`anderson_darling_two_sample`, operators/drift.py; Scholz &
    Stephens 1987 A²_kN at k=2) — per event type, even-user values
    vs odd-user values, the TAIL-WEIGHTED companion to
    `diag_ks_test` on the same split (KS sees one sup gap, A²
    integrates every gap with 1/(F(1−F)) weight). Distinct-value
    reduction (the window sees values, not rows), decimal(38,0)
    squared-deviation factors (the roc_auc overflow rule), 9-dp
    term snap, one double release; keys with an empty sample or a
    single pooled value are omitted."""
    from ..operators.drift import anderson_darling_two_sample

    return anderson_darling_two_sample(
        load(spark, sf_dir, "events"),
        group_col=(F.col("user_id") % 2 == 0),
        value_col="value",
        key_cols=["event_type"])


_ADF_ORACLE = """
WITH b AS (SELECT user_id AS e, CAST(value AS DECIMAL(20,6)) AS y,
    ts, event_id
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
s AS (SELECT e, y, lag(y, 1) OVER w AS u
  FROM b WINDOW w AS (PARTITION BY e ORDER BY ts, event_id)),
nobs AS (SELECT e, COUNT(*) AS n FROM s GROUP BY 1),
reg AS (SELECT e, u, y - u AS d FROM s WHERE u IS NOT NULL),
st AS (SELECT e, COUNT(*) AS m, SUM(u) AS su, SUM(d) AS sd
  FROM reg GROUP BY 1),
j AS (SELECT reg.e, st.m,
    CAST(reg.u AS DOUBLE) - CAST(st.su AS DOUBLE) / st.m AS du,
    CAST(reg.d AS DOUBLE) - CAST(st.sd AS DOUBLE) / st.m AS dd
  FROM reg JOIN st USING (e)),
mom AS (SELECT e, MAX(m) AS m,
    SUM(CAST(round(du * du, 9) AS DECIMAL(38,9))) AS suu,
    SUM(CAST(round(du * dd, 9) AS DECIMAL(38,9))) AS sud,
    SUM(CAST(round(dd * dd, 9) AS DECIMAL(38,9))) AS sdd
  FROM j GROUP BY 1),
calc AS (SELECT e, m,
    CAST(suu AS DOUBLE) AS suu, CAST(sud AS DOUBLE) AS sud,
    CAST(sdd AS DOUBLE) AS sdd,
    round(CAST(sdd AS DOUBLE)
          - CAST(sud AS DOUBLE) * CAST(sud AS DOUBLE)
            / CAST(suu AS DOUBLE), 9) AS ssr
  FROM mom),
rel AS (SELECT e, m,
    CASE WHEN m > 2 AND round(suu, 9) > 0
         THEN round(sud / suu, 6) END AS rho,
    CASE WHEN m > 2 AND round(suu, 9) > 0 AND ssr > 0
         THEN round((sud / suu)
                    / sqrt(ssr / (m - 2) / suu), 6) END AS df_stat
  FROM calc)
SELECT nobs.e AS user_id, CAST(nobs.n AS BIGINT) AS n,
  CAST(COALESCE(rel.m, 0) AS BIGINT) AS m, rho, df_stat
FROM nobs LEFT JOIN rel USING (e)
"""


@query("timeseries_dickey_fuller", oracle=_ADF_ORACLE)
def timeseries_dickey_fuller(spark, sf_dir):
    """Per-entity Dickey-Fuller unit-root test (`dickey_fuller`,
    operators/timeseries.py; Dickey & Fuller 1979, lag-0 drift
    form) — is each user's event-value series a random walk or
    mean-reverting, the stationarity screen that belongs before any
    ACF/Granger modeling: DF = ρ̂/se(ρ̂) from the Δy~y₋₁ regression,
    exact-decimal differences, the granger moment ladder (9-dp
    decimal pools, 9-dp SSR snap), released statistic only (DF is
    not t-distributed under the null — the caller looks up the DF
    table). One keyed lag window + two keyed aggs."""
    from ..operators.timeseries import dickey_fuller

    ev = load(spark, sf_dir, "events")
    return dickey_fuller(
        ev, "user_id", "ts", "value", order_tiebreak="event_id")


_DW_ORACLE = """
WITH b AS (SELECT user_id AS e,
    CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS HUGEINT) AS u,
    ts, event_id
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
s AS (SELECT e, u, lag(u, 1) OVER w AS p
  FROM b WINDOW w AS (PARTITION BY e ORDER BY ts, event_id)),
a AS (SELECT e, CAST(COUNT(*) AS HUGEINT) AS n,
    COALESCE(SUM(CASE WHEN p IS NOT NULL
                      THEN (u - p) * (u - p) END), 0) AS num,
    SUM(u * u) AS suu, SUM(u) AS su
  FROM s GROUP BY 1)
SELECT e AS user_id, CAST(n AS BIGINT) AS n,
  CASE WHEN n >= 2 AND n * suu - su * su > 0
       THEN CAST(n * num AS DOUBLE)
            / CAST(n * suu - su * su AS DOUBLE)
  END AS dw
FROM a
"""


@query("timeseries_durbin_watson", oracle=_DW_ORACLE)
def timeseries_durbin_watson(spark, sf_dir):
    """Per-entity Durbin-Watson first-order serial-correlation
    statistic (`durbin_watson`, operators/timeseries.py; Durbin &
    Watson 1950) — the ≈2·(1−r₁) screen beside `timeseries_acf`:
    one exact integer ratio n·Σ(Δu)²/(n·Σu²−(Σu)²) over scaled
    values (the never-square-a-decimal discipline), raw-double
    release, the ACF ordering contract with event_id tiebreak. One
    keyed lag window + one keyed agg. The oracle replays the
    identical integer algebra in HUGEINT."""
    from ..operators.timeseries import durbin_watson

    ev = load(spark, sf_dir, "events")
    return durbin_watson(
        ev, "user_id", "ts", "value", order_tiebreak="event_id")


_FORECAST_ACC_ORACLE = """
WITH b AS (SELECT user_id AS e,
    CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS HUGEINT) AS y,
    CAST(CAST(floor(value / 50 + 0.5) * 50 AS DECIMAL(20,6))
      * 1000000 AS HUGEINT) AS f
  FROM events WHERE value IS NOT NULL),
t AS (SELECT e, abs(y - f) AS ae, abs(y) AS ay,
    CASE WHEN abs(y) > 0
         THEN (abs(y - f) * 1000000000) // abs(y) END AS mu,
    CASE WHEN abs(y) + abs(f) > 0
         THEN (2 * abs(y - f) * 1000000000)
              // (abs(y) + abs(f)) END AS su
  FROM b),
a AS (SELECT e, CAST(COUNT(*) AS BIGINT) AS n,
    SUM(ae) AS sae, SUM(ay) AS say,
    CAST(SUM(CASE WHEN mu IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS n_zero_actual,
    CAST(SUM(CASE WHEN su IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS n_zero_pair,
    SUM(mu) AS smu, COUNT(mu) AS nm,
    SUM(su) AS ssu, COUNT(su) AS ns
  FROM t GROUP BY 1)
SELECT e AS user_id, n, n_zero_actual, n_zero_pair,
  CASE WHEN say > 0
       THEN CAST(sae AS DOUBLE) / CAST(say AS DOUBLE) END AS wape,
  CASE WHEN nm > 0
       THEN CAST((smu // nm + 500) // 1000 AS DOUBLE) / 1000000.0
  END AS mape,
  CASE WHEN ns > 0
       THEN CAST((ssu // ns + 500) // 1000 AS DOUBLE) / 1000000.0
  END AS smape
FROM a
"""


@query("timeseries_forecast_accuracy", oracle=_FORECAST_ACC_ORACLE)
def timeseries_forecast_accuracy(spark, sf_dir):
    """Per-entity WAPE / MAPE / sMAPE forecast-accuracy battery
    (`forecast_accuracy`, operators/timeseries.py; Hyndman &
    Koehler 2006 taxonomy) — the order-free error summaries beside
    `timeseries_mase`'s lag-scaled form, against the same 50-unit
    quantizer forecast of each user's event values. Every per-row
    term is an exact INTEGER floor division to nano units (no
    double enters before the release — one step beyond the nano
    ladder), zero-actual / zero-pair rows excluded and counted.
    The oracle replays the integer algebra verbatim with HUGEINT
    `//`."""
    from ..operators.timeseries import forecast_accuracy

    ev = load(spark, sf_dir, "events")
    return forecast_accuracy(
        ev.select(
            "user_id", F.col("value").alias("actual"),
            (F.floor(F.col("value") / 50 + 0.5) * 50)
            .cast("double").alias("fc")),
        "user_id", "actual", "fc")


_BENFORD_ORACLE = """
WITH src AS (SELECT regexp_extract(
      CAST(abs(o_totalprice) AS VARCHAR), '([1-9])', 1) AS d
  FROM orders WHERE o_totalprice IS NOT NULL),
counts AS (SELECT CAST(d AS INT) AS d, COUNT(*) AS o
  FROM src WHERE d <> '' GROUP BY 1),
grid(d, p) AS (VALUES
  (1, 0.3010299956639812), (2, 0.17609125905568124),
  (3, 0.12493873660829992), (4, 0.09691001300805642),
  (5, 0.07918124604762482), (6, 0.06694678963061322),
  (7, 0.05799194697768673), (8, 0.05115252244738129),
  (9, 0.04575749056067514)),
fl AS (SELECT grid.d, grid.p, COALESCE(counts.o, 0) AS o
  FROM grid LEFT JOIN counts ON grid.d = counts.d),
tot AS (SELECT SUM(o) AS n FROM fl),
sc AS (SELECT d, o,
    CAST(n AS BIGINT) AS n,
    CASE WHEN n > 0 THEN CAST(floor(
      (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * p)
      * (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * p)
      / (CAST(n AS DOUBLE) * p) * 1.0e9) AS BIGINT) END AS cu,
    CASE WHEN n > 0 THEN CAST(floor(
      abs(CAST(o AS DOUBLE) / CAST(n AS DOUBLE) - p) * 1.0e9)
      AS BIGINT) END AS du
  FROM fl, tot),
rk AS (SELECT *, row_number() OVER (ORDER BY du DESC, d ASC) AS r
  FROM sc)
SELECT CAST(MAX(n) AS BIGINT) AS n,
  CAST((SUM(cu) + 500) // 1000 AS DOUBLE) / 1e6 AS chi2,
  CAST((SUM(du) // 9 + 500) // 1000 AS DOUBLE) / 1e6 AS mad,
  MAX(CASE WHEN r = 1 THEN d END) AS worst_digit,
  CAST((MAX(CASE WHEN r = 1 THEN du END) + 500) // 1000 AS DOUBLE)
    / 1e6 AS worst_dev
FROM rk
"""


@query("profile_benford", oracle=_BENFORD_ORACLE)
def profile_benford(spark, sf_dir):
    """Benford's-law first-digit conformity (`benford_first_digit`,
    operators/profile.py; Newcomb 1881, Benford 1938, Nigrini 2012)
    — the fraud / data-quality screen over order totals: chi-square
    and Nigrini MAD against the log₁₀(1+1/d) digit law, worst digit
    called out. First digits extracted from the DECIMAL STRING (the
    log₁₀/floor route misclassifies exact powers of ten), the nine
    probabilities are FIXED literals (engine log10 is ulp-loose),
    every term through the nano-unit ladder. One scan + one 9-group
    agg + a literal grid join."""
    from ..operators.profile import benford_first_digit

    return benford_first_digit(
        load(spark, sf_dir, "orders"), "o_totalprice")


_PADJ_ORACLE = """
WITH b AS (SELECT source, doc_id AS id,
    CAST(doc_id % 9973 AS DOUBLE) / 9973.0 AS p
  FROM documents WHERE doc_id IS NOT NULL),
rk AS (SELECT source, id, p,
    row_number() OVER (PARTITION BY source ORDER BY p, id) AS r,
    COUNT(*) OVER (PARTITION BY source) AS m
  FROM b)
SELECT source, id AS doc_id, p, CAST(r AS BIGINT) AS rank,
  CAST(m AS BIGINT) AS m,
  LEAST(1.0, m * p) AS p_bonferroni,
  MAX(LEAST(1.0, (m - r + 1) * p)) OVER (
    PARTITION BY source ORDER BY r
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_holm,
  MIN(LEAST(1.0, m * p / r)) OVER (
    PARTITION BY source ORDER BY r DESC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_bh
FROM rk
"""


@query("eval_p_adjust", oracle=_PADJ_ORACLE)
def eval_p_adjust(spark, sf_dir):
    """Multiple-testing adjustment, all three standard procedures
    (`p_adjust`, operators/evaluation.py; Bonferroni, Holm 1979,
    Benjamini-Hochberg 1995) — per-source families of synthetic
    p-values carved deterministically from doc ids: the honest-
    reporting step after any batch of diag_* tests. Running
    max/min windows over the (p, id)-ranked family; releases are
    deliberately UNROUNDED raw doubles (every value is the same
    IEEE expression over parquet-identical inputs on both engines
    — there is no engine-dependent arithmetic to snap)."""
    from ..operators.evaluation import p_adjust

    docs = load(spark, sf_dir, "documents").select(
        "source", "doc_id",
        ((F.col("doc_id") % 9973).cast("double") / 9973.0).alias("p"))
    return p_adjust(docs, "doc_id", "p", key_cols=["source"])


_CRONBACH_ORACLE = """
WITH b AS (SELECT doc_id % 100 AS s, doc_id // 100 AS i,
    CAST(CAST(length(text) AS DECIMAL(20,6)) * 1000000
      AS HUGEINT) AS u
  FROM documents WHERE doc_id < 300 AND text IS NOT NULL),
pi AS (SELECT i, SUM(u) AS si, SUM(u * u) AS qi FROM b GROUP BY 1),
a AS (SELECT SUM(100 * qi - si * si) AS av FROM pi),
ps AS (SELECT s, SUM(u) AS x FROM b GROUP BY 1),
bb AS (SELECT 100 * SUM(x * x) - SUM(x) * SUM(x) AS bv FROM ps)
SELECT CAST(100 AS BIGINT) AS n_subjects, CAST(3 AS BIGINT) AS k,
  CASE WHEN bv > 0
       THEN 1.5 * (1.0 - CAST(av AS DOUBLE) / CAST(bv AS DOUBLE))
  END AS alpha
FROM a, bb
"""


@query("eval_cronbach_alpha", oracle=_CRONBACH_ORACLE)
def eval_cronbach_alpha(spark, sf_dir):
    """Cronbach's alpha internal consistency (`cronbach_alpha`,
    operators/evaluation.py; Cronbach 1951) — do the three
    text-length "items" of the shared 100-subject x 3-item design
    (the diag_friedman fixture carve: subject = id%100, item =
    id//100) cohere as one construct? All-integer scaled algebra
    (n² denominators cancel into one exact decimal(38,0) ratio),
    complete-design contract, raw-double release (one IEEE
    expression over identical integers — the p_adjust convention)."""
    from ..operators.evaluation import cronbach_alpha

    docs = load(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 300) & F.col("text").isNotNull())
    return cronbach_alpha(
        docs.select(
            (F.col("doc_id") % 100).alias("subj"),
            (F.col("doc_id") / 100).cast("long").alias("item"),
            F.length("text").alias("score")),
        "subj", "item", "score")


_KENDALL_W_ORACLE = f"""
WITH f AS ({_FRIEDMAN_ORACLE})
SELECT n_blocks, k, q_stat,
  CASE WHEN q_stat IS NOT NULL THEN
    CAST((2 * CAST(floor(q_stat * 1000000.0 + 0.5) AS BIGINT)
          + (n_blocks * (k - 1)))
         // (2 * n_blocks * (k - 1)) AS DOUBLE) / 1000000.0
  END AS w
FROM f
"""


@query("diag_kendalls_w", oracle=_KENDALL_W_ORACLE)
def diag_kendalls_w(spark, sf_dir):
    """Kendall's coefficient of concordance W (`kendalls_w`,
    operators/drift.py; Kendall & Babington Smith 1939) — the 0..1
    agreement STRENGTH behind `diag_friedman`'s significance answer
    on the SAME 100x3 design, via the exact tie-general identity
    W = Q/(n(k−1)) (Conover 1999). Composes the RELEASED Q (the
    textrank→pagerank convention), with the Q/D small-denominator
    release done in pure integers (exact dp-grain recovery + integer
    HALF_UP — the anderson_darling half-boundary lesson)."""
    from ..operators.drift import kendalls_w

    docs = load(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 300) & F.col("text").isNotNull())
    return kendalls_w(
        docs.select(
            (F.col("doc_id") % 100).alias("blk"),
            (F.col("doc_id") / 100).cast("long").alias("trt"),
            F.length("text").alias("score")),
        "blk", "trt", "score")


def _esd_oracle(n_rounds: int = 3) -> str:
    """Unrolled n-round ESD replay (the _neyman_oracle convention:
    built programmatically so the three rounds cannot drift apart)."""
    parts = ["""cur1 AS (SELECT event_type AS g, event_id AS id,
    CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS HUGEINT) AS u
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
    AND event_id IS NOT NULL)"""]
    for r in range(1, n_rounds + 1):
        ok = f"n >= 3 AND n * q - s * s > 0"
        rs = (f"round(CAST(dev AS DOUBLE) / n / 1000000.0"
              f" / sqrt((CAST(n * q - s * s AS DOUBLE)"
              f" / (n * (n - 1.0))) / 1e12), 6)")
        parts.append(f"""mom{r} AS (SELECT g, COUNT(*) AS n, SUM(u) AS s,
    SUM(u * u) AS q FROM cur{r} GROUP BY 1),
rk{r} AS (SELECT cur{r}.g, id, u, n, s, q,
    abs(n * u - s) AS dev,
    row_number() OVER (PARTITION BY cur{r}.g
      ORDER BY abs(n * u - s) DESC, id ASC) AS rk
  FROM cur{r} JOIN mom{r} ON cur{r}.g = mom{r}.g),
out{r} AS (SELECT g, {r} AS round, n AS n_remaining,
    CASE WHEN {ok} THEN {rs} END AS r_stat,
    CASE WHEN {ok} THEN id END AS removed_id,
    CASE WHEN {ok} THEN CAST(u AS DOUBLE) / 1000000.0 END
      AS removed_value
  FROM rk{r} WHERE rk = 1)""")
        if r < n_rounds:
            parts.append(f"""cur{r + 1} AS (SELECT cur{r}.g, cur{r}.id, cur{r}.u
  FROM cur{r} LEFT JOIN (SELECT g, removed_id FROM out{r}
    WHERE removed_id IS NOT NULL) x{r}
    ON cur{r}.g = x{r}.g AND cur{r}.id = x{r}.removed_id
  WHERE x{r}.g IS NULL)""")
    union = "\nUNION ALL\n".join(
        f"SELECT g AS event_type, CAST(round AS INT) AS round, "
        f"CAST(n_remaining AS BIGINT) AS n_remaining, r_stat, "
        f"CAST(removed_id AS BIGINT) AS removed_id, removed_value "
        f"FROM out{r}" for r in range(1, n_rounds + 1))
    return "WITH " + ",\n".join(parts) + "\n" + union


@query("diag_esd_outliers", oracle=_esd_oracle())
def diag_esd_outliers(spark, sf_dir):
    """Generalized ESD outlier rounds (`esd_outlier_rounds`,
    operators/drift.py; Rosner 1983) — the masked-outlier detector
    over event values per type: three re-studentized rounds, each
    releasing R = max|x − x̄|/s, the removed point, and the
    remaining count (critical values are the caller's table — the
    no-CDF convention). Exact integer-scaled moments (the
    never-square-a-decimal rule), the argmax ranked on EXACT
    |n·x − Σx| integers with an id tiebreak, unrolled-rounds plan
    (the graph_pagerank convention); degenerate rounds release NULL
    and stop removing."""
    from ..operators.drift import esd_outlier_rounds

    ev = load(spark, sf_dir, "events")
    return esd_outlier_rounds(
        ev, "event_type", "value", "event_id", n_rounds=3)


_JB_ORACLE = """
WITH base AS (SELECT event_type, value AS x FROM events
              WHERE value IS NOT NULL),
st AS (SELECT event_type,
    CAST(SUM(CAST(round(x, 12) AS DECIMAL(28,12))) AS DOUBLE)
      / COUNT(*) AS m, COUNT(*) AS n
  FROM base GROUP BY event_type),
dv AS (SELECT b.event_type, st.n, b.x - st.m AS d
  FROM base b JOIN st ON b.event_type = st.event_type),
mom AS (SELECT event_type, MAX(n) AS n,
    CAST(SUM(CAST(round(d * d, 9) AS DECIMAL(28,9))) AS DOUBLE)
      / MAX(n) AS m2,
    CAST(SUM(CAST(round(d * d * d, 9) AS DECIMAL(28,9))) AS DOUBLE)
      / MAX(n) AS m3,
    CAST(SUM(CAST(round(d * d * d * d, 9) AS DECIMAL(28,9))) AS DOUBLE)
      / MAX(n) AS m4
  FROM dv GROUP BY event_type),
rel AS (SELECT event_type, CAST(n AS BIGINT) AS n,
    round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
    round(m4 / (m2 * m2) - 3, 6) AS kurtosis_excess
  FROM mom WHERE m2 > 0)
SELECT event_type, n, skewness, kurtosis_excess,
  CAST((CAST(floor(CAST(n AS DOUBLE) / 6.0
        * (skewness * skewness
           + kurtosis_excess * kurtosis_excess / 4.0) * 1.0e9)
      AS BIGINT) + 500) // 1000 AS DOUBLE) / 1e6 AS jb
FROM rel
"""


@query("diag_jarque_bera", oracle=_JB_ORACLE)
def diag_jarque_bera(spark, sf_dir):
    """Jarque-Bera normality screen (`jarque_bera`,
    operators/drift.py; Jarque & Bera 1980) — is each event type's
    value distribution even Gaussian, the gate before any
    normality-assuming diag test: JB = n/6·(S² + K²/4) composed
    from the RELEASED agg_moments skewness/kurtosis (identical
    doubles on both engines), released through the nano-unit ladder
    (n/6 is the small-denominator rational round(double) trips
    on)."""
    from ..operators.drift import jarque_bera

    return jarque_bera(
        load(spark, sf_dir, "events"), "event_type", "value")


_ICC_ORACLE = """
WITH b AS (SELECT doc_id % 100 AS s, doc_id // 100 AS i,
    CAST(CAST(length(text) AS DECIMAL(20,6)) * 1000000
      AS HUGEINT) AS u
  FROM documents WHERE doc_id < 300 AND text IS NOT NULL),
tot AS (SELECT SUM(u) AS t, SUM(u * u) AS q FROM b),
rw AS (SELECT SUM(r * r) AS r2 FROM (
    SELECT SUM(u) AS r FROM b GROUP BY s)),
cl AS (SELECT SUM(c * c) AS c2 FROM (
    SELECT SUM(u) AS c FROM b GROUP BY i)),
f AS (SELECT
    CAST(300 * q - t * t AS DOUBLE) AS sstot,
    CAST(100 * r2 - t * t AS DOUBLE) AS ssrow,
    CAST(3 * c2 - t * t AS DOUBLE) AS sscol,
    CAST((300 * q - t * t) - (100 * r2 - t * t)
         - (3 * c2 - t * t) AS DOUBLE) AS sserr
  FROM tot, rw, cl)
SELECT CAST(100 AS BIGINT) AS n_subjects, CAST(3 AS BIGINT) AS k,
  CASE WHEN ssrow / 99.0 + 2.0 * (sserr / 198.0)
            + 3.0 * (sscol / 2.0 - sserr / 198.0) / 100.0 > 0
       THEN (ssrow / 99.0 - sserr / 198.0)
            / (ssrow / 99.0 + 2.0 * (sserr / 198.0)
               + 3.0 * (sscol / 2.0 - sserr / 198.0) / 100.0)
  END AS icc
FROM f
"""


@query("eval_icc", oracle=_ICC_ORACLE)
def eval_icc(spark, sf_dir):
    """Intraclass correlation ICC(2,1) (`icc_two_way`,
    operators/evaluation.py; Shrout & Fleiss 1979) — the
    absolute-agreement continuous-score coefficient on the SAME
    100x3 design as `eval_cronbach_alpha` (alpha forgives a
    systematically-high rater, ICC charges the bias): two-way ANOVA
    mean squares from exact integer-scaled sums of squares (common
    scaling cancels in every ratio), shared complete-design probe,
    raw-double release."""
    from ..operators.evaluation import icc_two_way

    docs = load(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 300) & F.col("text").isNotNull())
    return icc_two_way(
        docs.select(
            (F.col("doc_id") % 100).alias("subj"),
            (F.col("doc_id") / 100).cast("long").alias("item"),
            F.length("text").alias("score")),
        "subj", "item", "score")


_WKAPPA_ORACLE = """
WITH b AS (SELECT CAST(floor(value / 100) AS BIGINT) % 5 AS a,
    CAST(floor(value / 90) AS BIGINT) % 5 AS bb
  FROM events WHERE value IS NOT NULL),
cells AS (SELECT a, bb, CAST(COUNT(*) AS HUGEINT) AS o
  FROM b GROUP BY 1, 2),
obs AS (SELECT SUM(o) AS n,
    SUM((a - bb) * (a - bb) * o) AS wo FROM cells),
ma AS (SELECT a, CAST(COUNT(*) AS HUGEINT) AS na FROM b GROUP BY 1),
mb AS (SELECT bb, CAST(COUNT(*) AS HUGEINT) AS nb FROM b GROUP BY 1),
ex AS (SELECT SUM((ma.a - mb.bb) * (ma.a - mb.bb) * na * nb) AS we
  FROM ma, mb)
SELECT CAST(n AS BIGINT) AS n_items,
  CAST(n * wo AS DOUBLE) AS weighted_po_num,
  CAST(we AS DOUBLE) AS weighted_pe_num,
  CASE WHEN we > 0
       THEN 1.0 - CAST(n * wo AS DOUBLE) / CAST(we AS DOUBLE)
  END AS kappa_w
FROM obs, ex
"""


@query("eval_weighted_kappa", oracle=_WKAPPA_ORACLE)
def eval_weighted_kappa(spark, sf_dir):
    """Quadratic-weighted Cohen's kappa (`weighted_kappa`,
    operators/evaluation.py; Cohen 1968) — the ordinal-scale member
    of the kappa family (plain kappa charges 4-vs-5 like 1-vs-5),
    over two derived 5-level ordinal graders of the event values:
    one exact decimal(38,0) integer ratio (the denominator-cleared
    1 − N·Σw·o / Σw·a·b form), marginal-frame cross bounded by the
    label alphabet, raw-double release, integer-category type
    contract."""
    from ..operators.evaluation import weighted_kappa

    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    return weighted_kappa(
        ev.select(
            (F.floor(F.col("value") / 100) % 5).alias("ra"),
            (F.floor(F.col("value") / 90) % 5).alias("rb")),
        "ra", "rb", weight="quadratic")


_CCC_ORACLE = """
WITH b AS (SELECT
    CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS HUGEINT) AS u,
    CAST(CAST(floor(value / 50 + 0.5) * 50 AS DECIMAL(20,6))
      * 1000000 AS HUGEINT) AS v
  FROM events WHERE value IS NOT NULL),
a AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(u) AS su,
    SUM(v) AS sv, SUM(u * u) AS suu, SUM(v * v) AS svv,
    SUM(u * v) AS suv FROM b)
SELECT CAST(n AS BIGINT) AS n,
  CASE WHEN (n * suu - su * su) + (n * svv - sv * sv)
            + (su - sv) * (su - sv) > 0
       THEN CAST(2 * (n * suv - su * sv) AS DOUBLE)
            / CAST((n * suu - su * su) + (n * svv - sv * sv)
                   + (su - sv) * (su - sv) AS DOUBLE)
  END AS ccc
FROM a
"""


@query("eval_ccc", oracle=_CCC_ORACLE)
def eval_ccc(spark, sf_dir):
    """Lin's concordance correlation (`concordance_ccc`,
    operators/evaluation.py; Lin 1989) — how well a 50-unit
    quantizer reproduces the raw event values: Pearson's r would
    forgive the quantization bias, CCC charges the 45°-line
    deviation. One exact decimal(38,0) integer ratio over scaled
    moments (the cleared-denominator form), raw-double release,
    pairwise-complete; the quantized twin uses floor(x/50 + 0.5)
    (IEEE-identical on both engines — round() is not)."""
    from ..operators.evaluation import concordance_ccc

    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    return concordance_ccc(
        ev.select(
            F.col("value").alias("x"),
            (F.floor(F.col("value") / 50 + 0.5) * 50)
            .cast("double").alias("y")),
        "x", "y")
