"""Relational query suite (TPC-H-adapted to the testdata schema).

The reference delegates all row/column compute to polars via
``Dataset.map`` (``/root/reference/docs/index.rst:31-37``); this module is
the Spark-native replacement surface (survey §2.3): scans, filtered
aggregations, multi-way joins, semi/anti joins, correlated-style
subqueries via window/group joins — all declarative DataFrame ops so
Catalyst picks broadcast vs shuffle joins, pushes filters into parquet
scans, and prunes columns.

Scale notes per query are inline: dimension tables (region, nation,
customer, supplier, part) broadcast; lineitem/orders joins shuffle on
their keys with AQE skew handling; aggregations are partial+final
(map-side combine) automatically.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .registry import davg, dsum, load, query, sql_davg, sql_dsum

# ---------------------------------------------------------------------------
# q1: pricing summary — full-scan partial+final aggregation over lineitem.
# At 100 TB this is the pure scan-throughput query: no shuffle besides the
# tiny final agg (6 groups); columns pruned to 7 of 11.
# ---------------------------------------------------------------------------

@query("q1_pricing_summary", oracle=f"""
SELECT l_returnflag, l_linestatus,
  {sql_dsum('l_quantity', 'sum_qty')},
  {sql_dsum('l_extendedprice', 'sum_base_price')},
  {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
  {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
  {sql_davg('l_quantity', 'avg_qty')},
  {sql_davg('l_extendedprice', 'avg_price')},
  {sql_davg('l_discount', 'avg_disc')},
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
""")
def q1(spark, sf_dir):
    # wide=True: q1 is the one TPC-H query whose per-row work (7 exact
    # decimal casts/products feeding the partial agg) is heavy enough
    # that a single-row-group scan serializes it — measured 2.0s → 0.95s
    # at sf0.1.  On a healthy multi-file layout spread() is a no-op; the
    # join-heavy queries (q3/q18) are NOT widened: their joins already
    # redistribute, so the extra shuffle only adds cost (measured).
    l = load(spark, sf_dir, "lineitem", wide=True)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.where(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax")), "sum_charge"),
            davg(F.col("l_quantity"), "avg_qty"),
            davg(F.col("l_extendedprice"), "avg_price"),
            davg(F.col("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q3: shipping priority — 3-way join, top-10 by revenue.
# customer is broadcast (small dim); orders⋈lineitem shuffles on orderkey.
# ---------------------------------------------------------------------------

@query("q3_shipping_priority", oracle=f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
  {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""")
def q3(spark, sf_dir):
    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    l = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q4: order priority checking — EXISTS → left-semi join (no row explosion).
# ---------------------------------------------------------------------------

@query("q4_order_priority", oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""")
def q4(spark, sf_dir):
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    l = load(spark, sf_dir, "lineitem")
    sj = o.join(l, (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
                "left_semi")
    return sj.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# ---------------------------------------------------------------------------
# q5: local supplier volume — 6-way star join; dims broadcast, the
# customer-nation = supplier-nation condition rides on the join.
# ---------------------------------------------------------------------------

@query("q5_local_supplier_volume", oracle=f"""
SELECT n_name, {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
""")
def q5(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .join(broadcast(s), (l.l_suppkey == s.s_suppkey)
              & (c.c_nationkey == s.s_nationkey))
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


# ---------------------------------------------------------------------------
# q6: forecast revenue — pure pushed-down filter + single exact sum.
# The whole WHERE clause reaches the parquet scan (PushedFilters).
# ---------------------------------------------------------------------------

@query("q6_forecast_revenue", oracle=f"""
SELECT {sql_dsum('l_extendedprice * l_discount', 'revenue')}
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
""")
def q6(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem")
    return (
        l.where((F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
                & (F.col("l_discount") >= 0.03) & (F.col("l_discount") <= 0.07)
                & (F.col("l_quantity") < 24))
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


# ---------------------------------------------------------------------------
# q7: volume shipping between nation pairs via supplier/customer nations.
# ---------------------------------------------------------------------------

@query("q7_volume_shipping", oracle=f"""
SELECT supp_nation, cust_nation, l_year, {sql_dsum('volume', 'revenue')}
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier, lineitem, orders, customer, nation n1, nation n2
  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
    AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_10')
      OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_9'))
) shipping
GROUP BY supp_nation, cust_nation, l_year
""")
def q7(spark, sf_dir):
    s = load(spark, sf_dir, "supplier")
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    j = (l.join(o, l.l_orderkey == o.o_orderkey)
         .join(broadcast(c), o.o_custkey == c.c_custkey)
         .join(broadcast(s), l.l_suppkey == s.s_suppkey)
         .join(broadcast(n1), s.s_nationkey == F.col("n1_key"))
         .join(broadcast(n2), c.c_nationkey == F.col("n2_key"))
         .where(((F.col("supp_nation") == "NATION_9") & (F.col("cust_nation") == "NATION_10"))
                | ((F.col("supp_nation") == "NATION_10") & (F.col("cust_nation") == "NATION_9"))))
    return (j.select("supp_nation", "cust_nation",
                     F.year("l_shipdate").alias("l_year"),
                     (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"))
            .groupBy("supp_nation", "cust_nation", "l_year")
            .agg(dsum(F.col("volume"), "revenue")))


# ---------------------------------------------------------------------------
# q10: returned items — customer revenue from returned lineitems, top 20.
# ---------------------------------------------------------------------------

@query("q10_returned_items", oracle=f"""
SELECT c_custkey, c_name, n_name, c_acctbal,
  {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
""")
def q10(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp")))
    l = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q12: shipping-delay priority classification — CASE aggregation.
# ---------------------------------------------------------------------------

@query("q12_priority_class", oracle="""
SELECT l_returnflag,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders, lineitem
WHERE o_orderkey = l_orderkey
  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
""")
def q12(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
             F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"))
    )


# ---------------------------------------------------------------------------
# q14: promo revenue share — conditional ratio of two exact sums.
# ---------------------------------------------------------------------------

@query("q14_promo_revenue", oracle=f"""
SELECT 100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-02-01'
""")
def q14(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp")))
    p = load(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0))
    from .registry import DEC
    return (
        l.join(broadcast(p), l.l_partkey == p.p_partkey)
        .agg((F.lit(100.0) * F.sum(promo.cast(DEC)).cast("double")
              / F.sum(disc_price.cast(DEC)).cast("double")).alias("promo_revenue"))
    )


# ---------------------------------------------------------------------------
# q15: top supplier(s) by revenue — aggregate-then-filter-to-max.
# ---------------------------------------------------------------------------

@query("q15_top_supplier", oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
    {sql_dsum('l_extendedprice * (1 - l_discount)', 'total_revenue')}
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier, revenue
WHERE s_suppkey = supplier_no AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""")
def q15(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp")))
    s = load(spark, sf_dir, "supplier")
    # the global max is a parallel scalar agg over the per-supplier
    # table, broadcast back as a 1-row equi-join (a global window would
    # funnel every supplier through one task)
    rev = (l.groupBy(F.col("l_suppkey").alias("supplier_no"))
           .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                     "total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (rev.join(F.broadcast(mx),
                     F.col("total_revenue") == F.col("__mx"))
            .join(broadcast(s), F.col("supplier_no") == s.s_suppkey)
            .select("s_suppkey", "s_name", "total_revenue"))


# ---------------------------------------------------------------------------
# q17: small-quantity-order revenue — per-part average via group join
# (the classic correlated subquery, decorrelated by hand).
# ---------------------------------------------------------------------------

@query("q17_small_quantity", oracle=f"""
WITH part_avg AS (
  SELECT l_partkey AS pk,
    {sql_davg('l_quantity', 'avg_qty')}
  FROM lineitem GROUP BY l_partkey
)
SELECT {sql_dsum('l_extendedprice', 'total_price_sum')},
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem, part, part_avg
WHERE p_partkey = l_partkey AND p_brand = 'Brand#1' AND pk = l_partkey
  AND l_quantity < 0.5 * avg_qty
""")
def q17(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    # per-part average restricted to Brand#1 partkeys via a broadcast
    # SEMI-join before the aggregation: the final
    # inner join with p drops every other partkey anyway, and the
    # per-key average is unchanged by dropping other keys — so the
    # aggregation shuffles (and the part_avg broadcast carries) ~1/25th
    # of the partkeys instead of all of them.
    part_avg = (l.join(broadcast(p.select("p_partkey")),
                       l.l_partkey == F.col("p_partkey"), "left_semi")
                .groupBy(F.col("l_partkey").alias("pk"))
                .agg(davg(F.col("l_quantity"), "avg_qty")))
    from .registry import DEC
    return (
        l.join(broadcast(p), l.l_partkey == p.p_partkey)
        .join(part_avg, l.l_partkey == part_avg.pk)
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(dsum(F.col("l_extendedprice"), "total_price_sum"),
             (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / F.lit(7.0))
             .alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# q18: large-volume customers — HAVING on a grouped sum, join back to dims.
# ---------------------------------------------------------------------------

@query("q18_large_volume", oracle=f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
  {sql_dsum('l_quantity', 'sum_qty')}
FROM customer, orders, lineitem
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 120)
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""")
def q18(spark, sf_dir):
    # one aggregation over lineitem serves both the HAVING filter and the
    # output sum (the per-orderkey sum IS the group sum after joining the
    # 1:1 orders/customer dims) — lineitem is scanned and shuffled once.
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    qty = (l.groupBy("l_orderkey")
           .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("__s"))
           .where(F.col("__s") > 120))
    return (
        qty.join(o, qty.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                "o_totalprice", F.col("__s").cast("double").alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q19: disjunctive predicate revenue — OR-of-ANDs pushed as one filter.
# ---------------------------------------------------------------------------

@query("q19_disjunctive", oracle=f"""
SELECT {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
    OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
    OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40))
""")
def q19(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 40))
    )
    return (l.join(broadcast(p), l.l_partkey == p.p_partkey).where(cond)
            .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue")))


# ---------------------------------------------------------------------------
# q22: idle customers — above-average balance, no orders (anti join);
# the global average stays in-plan via a broadcast cross join (no
# driver-side collect).
# ---------------------------------------------------------------------------

@query("q22_idle_customers", oracle=f"""
SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
  {sql_dsum('c_acctbal', 'totacctbal')}
FROM customer
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
    FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
""")
def q22(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    from .registry import DEC
    avg_bal = (c.where(F.col("c_acctbal") > 0.0)
               .agg((F.sum(F.col("c_acctbal").cast(DEC)).cast("double")
                     / F.count(F.lit(1))).alias("__avg")))
    return (
        c.crossJoin(broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("__avg"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("numcust"),
             dsum(F.col("c_acctbal"), "totacctbal"))
    )


# ---------------------------------------------------------------------------
# q9: product-type profit by nation and year (part ⋈ lineitem ⋈ supplier ⋈
# orders ⋈ nation; profit proxy = disc price − retail cost share).
# ---------------------------------------------------------------------------

@query("q9_product_profit", oracle=f"""
SELECT nation, o_year, {sql_dsum('amount', 'sum_profit')}
FROM (
  SELECT n_name AS nation,
    CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
    l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity
      AS amount
  FROM part, supplier, lineitem, orders, nation
  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
    AND p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
""")
def q9(spark, sf_dir):
    p = load(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    s = load(spark, sf_dir, "supplier")
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - 0.5 * F.col("p_retailprice") * F.col("l_quantity"))
    return (
        l.join(broadcast(p), l.l_partkey == p.p_partkey)
        .join(broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(F.col("n_name").alias("nation"),
                F.year("o_orderdate").alias("o_year"),
                amount.alias("amount"))
        .groupBy("nation", "o_year")
        .agg(dsum(F.col("amount"), "sum_profit"))
    )


# ---------------------------------------------------------------------------
# q2: minimum-cost supplier. The testdata has no partsupp table
# (reference schema note: TESTDATA.md), so the supply relation is derived
# from lineitem: per (part, supplier) the minimum observed unit price.
# The correlated MIN subquery is decorrelated into a per-part min join —
# at scale one shuffle on l_partkey instead of a subquery per row.
# ---------------------------------------------------------------------------

@query("q2_min_cost_supplier", oracle="""
WITH supply AS (
  SELECT l_partkey AS pk, l_suppkey AS sk,
         MIN(l_extendedprice / l_quantity) AS cost
  FROM lineitem GROUP BY 1, 2),
m AS (SELECT pk AS mpk, MIN(cost) AS mincost FROM supply GROUP BY 1)
SELECT s_acctbal, s_name, n_name, p_partkey, cost AS supply_cost
FROM supply, m, part, supplier, nation
WHERE pk = mpk AND cost = mincost AND p_partkey = pk
  AND p_type = 'PROMO' AND p_size <= 10
  AND s_suppkey = sk AND s_nationkey = n_nationkey
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""")
def q2(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(
        (F.col("p_type") == "PROMO") & (F.col("p_size") <= 10))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    supply = (l.groupBy(F.col("l_partkey").alias("pk"),
                        F.col("l_suppkey").alias("sk"))
              .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
                   .alias("cost")))
    # per-part min as a window over the AGGREGATED supply rows: a
    # supply.groupBy(pk).agg(min) + join-back would re-run the
    # lineitem scan + (pk, sk) aggregation for the m branch
    # (Catalyst does not dedupe the shared subtree).  The window's
    # exchange is keyed on the high-cardinality pk over (pk, sk)-
    # collapsed rows; the equality filter keeps exactly the rows the
    # old inner join on (pk, cost = mincost) kept — ALL tied minima,
    # null-cost groups excluded by both forms.
    from pyspark.sql.window import Window
    best = (supply.withColumn(
                "mincost", F.min("cost").over(Window.partitionBy("pk")))
            .where(F.col("cost") == F.col("mincost")))
    return (best.join(broadcast(p), best.pk == p.p_partkey)
            .join(broadcast(s), best.sk == s.s_suppkey)
            .join(broadcast(n), s.s_nationkey == n.n_nationkey)
            .select("s_acctbal", "s_name", "n_name", "p_partkey",
                    F.col("cost").alias("supply_cost"))
            .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
            .limit(100))


# ---------------------------------------------------------------------------
# q8: national market share — a nation's share of regional revenue by year.
# Ratio of two conditional exact-decimal sums (registry determinism policy).
# ---------------------------------------------------------------------------

@query("q8_market_share", oracle="""
SELECT o_year,
  CAST(SUM(CAST(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0.0 END
                AS DECIMAL(18,6))) AS DOUBLE)
  / CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
    AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    AND p_type = 'STANDARD'
) all_nations
GROUP BY o_year
""")
def q8(spark, sf_dir):
    from .registry import DEC
    p = load(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    s = load(spark, sf_dir, "supplier")
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_rkey"))
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation"))
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (l.join(broadcast(p), l.l_partkey == p.p_partkey)
         .join(o, l.l_orderkey == o.o_orderkey)
         .join(broadcast(c), o.o_custkey == c.c_custkey)
         .join(broadcast(n1), c.c_nationkey == F.col("n1_key"))
         .join(broadcast(r), F.col("n1_rkey") == r.r_regionkey)
         .join(broadcast(s), l.l_suppkey == s.s_suppkey)
         .join(broadcast(n2), s.s_nationkey == F.col("n2_key"))
         .select(F.year("o_orderdate").alias("o_year"),
                 volume.alias("volume"), "nation"))
    national = F.when(F.col("nation") == "NATION_5",
                      F.col("volume")).otherwise(F.lit(0.0))
    return (j.groupBy("o_year")
            .agg((F.sum(national.cast(DEC)).cast("double")
                  / F.sum(F.col("volume").cast(DEC)).cast("double"))
                 .alias("mkt_share")))


# ---------------------------------------------------------------------------
# q11: important stock — per-part supply value for one nation's suppliers,
# kept where above a fraction of the national total. The global total rides
# as a broadcast cross join (never collected to the driver).
# ---------------------------------------------------------------------------

@query("q11_important_stock", oracle="""
WITH value_by_part AS (
  SELECT l_partkey AS p_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS val
  FROM lineitem, supplier, nation
  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name = 'NATION_3'
  GROUP BY 1)
SELECT p_partkey, CAST(val AS DOUBLE) AS value
FROM value_by_part
WHERE CAST(val AS DOUBLE) >
      (SELECT 0.001 * CAST(SUM(val) AS DOUBLE) FROM value_by_part)
""")
def q11(spark, sf_dir):
    from .registry import DEC
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    # the 0.001 x total threshold is a parallel scalar agg over the
    # per-part table, broadcast back as a 1-row cross join (a global
    # window would funnel every part through one task)
    vbp = (l.join(broadcast(s.join(broadcast(n),
                                   s.s_nationkey == n.n_nationkey)),
                  l.l_suppkey == F.col("s_suppkey"))
           .groupBy(F.col("l_partkey").alias("p_partkey"))
           .agg(F.sum(F.col("l_extendedprice").cast(DEC)).alias("val")))
    thr = vbp.agg((F.lit(0.001) * F.sum("val").cast("double"))
                  .alias("__thr"))
    return (vbp.crossJoin(F.broadcast(thr))
            .where(F.col("val").cast("double") > F.col("__thr"))
            .select("p_partkey", F.col("val").cast("double").alias("value")))


# ---------------------------------------------------------------------------
# q13: customer order-count distribution — left join keeps zero-order
# customers, then a second aggregation over the counts.
# ---------------------------------------------------------------------------

@query("q13_order_distribution", oracle="""
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
""")
def q13(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (c.join(o, c.c_custkey == o.o_custkey, "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").cast("bigint").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).cast("bigint").alias("custdist")))


# ---------------------------------------------------------------------------
# q16: supplier relationship count — distinct suppliers per part class,
# excluding deficit suppliers (NOT IN → broadcast anti join).
# ---------------------------------------------------------------------------

@query("q16_supplier_cnt", oracle="""
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type, p_size
""")
def q16(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5") & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
    bad = load(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0.0)
    return (l.join(broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
            .join(broadcast(p), F.col("l_partkey") == p.p_partkey)
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.count_distinct("l_suppkey").cast("bigint")
                 .alias("supplier_cnt")))


# ---------------------------------------------------------------------------
# q20: dominant part suppliers — suppliers providing >50% of a red
# part's 1997 volume (window share over the part total), surfaced via a
# left-semi join so each supplier appears once.
# ---------------------------------------------------------------------------

@query("q20_dominant_suppliers", oracle="""
WITH qty AS (
  SELECT l_suppkey AS sk, l_partkey AS pk,
         SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sq
  FROM lineitem, part
  WHERE l_partkey = p_partkey AND p_name LIKE '%red%'
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY 1, 2),
tot AS (SELECT pk AS tpk, SUM(sq) AS tq FROM qty GROUP BY 1)
SELECT s_suppkey, s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT sk FROM qty, tot
  WHERE pk = tpk AND CAST(sq AS DOUBLE) > 0.5 * CAST(tq AS DOUBLE))
""")
def q20(spark, sf_dir):
    from .registry import DEC
    l = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    p = load(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    s = load(spark, sf_dir, "supplier")
    qty = (l.join(broadcast(p), l.l_partkey == p.p_partkey)
           .groupBy(F.col("l_suppkey").alias("sk"),
                    F.col("l_partkey").alias("pk"))
           .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("sq")))
    tot = qty.groupBy(F.col("pk").alias("tpk")).agg(F.sum("sq").alias("tq"))
    dominant = (qty.join(tot, qty.pk == tot.tpk)
                .where(F.col("sq").cast("double")
                       > 0.5 * F.col("tq").cast("double")))
    return (s.join(dominant, s.s_suppkey == dominant.sk, "left_semi")
            .select("s_suppkey", "s_name", "s_acctbal"))


# ---------------------------------------------------------------------------
# q21: suppliers who kept orders waiting. The testdata has no
# commit/receipt dates, so "failed" = l_returnflag = 'R' on a finished
# ('F') order. TPC-H's EXISTS / NOT EXISTS pair over lineitem self-joins
# is decorrelated into ONE per-order aggregation: another supplier exists
# ⇔ distinct suppliers ≥ 2; no other supplier failed ⇔ distinct failing
# suppliers = 1 (l1 itself is failing). One shuffle of lineitem instead
# of two self-joins — the 100 TB-safe plan.
# ---------------------------------------------------------------------------

@query("q21_waiting_suppliers", oracle="""
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
""")
def q21(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    s = load(spark, sf_dir, "supplier")
    stats = (l.groupBy(F.col("l_orderkey").alias("ok"))
             .agg(F.count_distinct("l_suppkey").alias("nsupp"),
                  F.count_distinct(
                      F.when(F.col("l_returnflag") == "R",
                             F.col("l_suppkey"))).alias("nfail")))
    l1 = l.where(F.col("l_returnflag") == "R")
    return (l1.join(o, l1.l_orderkey == o.o_orderkey, "left_semi")
            .join(stats, l1.l_orderkey == stats.ok)
            .where((F.col("nsupp") >= 2) & (F.col("nfail") == 1))
            .join(broadcast(s), F.col("l_suppkey") == s.s_suppkey)
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).cast("bigint").alias("numwait")))
