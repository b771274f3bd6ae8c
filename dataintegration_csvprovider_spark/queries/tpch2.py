"""The rest of the TPC-H query shapes (Q2, Q4, Q7-Q9, Q11-Q13, Q15-Q22),
adapted to the fixture star schema. The fixtures have no ``partsupp``
table and lineitem lacks commit/receipt dates and shipmode, so the
affected queries substitute documented proxies while keeping the
*plan shape* that makes each query interesting at 100 TB:

- part-supplier relationships derive from ``SELECT DISTINCT l_partkey,
  l_suppkey FROM lineitem`` (Q2, Q11, Q16, Q20);
- "late" lineitems are ``l_shipdate > o_orderdate + INTERVAL 60/90
  DAYS`` instead of receipt-vs-commit (Q4, Q21);
- supply cost is ``0.1 * p_retailprice`` (Q9); shipmode buckets map to
  ``l_returnflag`` (Q12).

All queries are stock DataFrame ops: Catalyst broadcasts the dim
chain, partial-aggregates before every shuffle, and decorrelates the
EXISTS/IN subqueries into semi/anti joins. Sums follow the exact_sum
decimal-accumulation rule so the DuckDB oracle hash-matches.

Reference parity note: the reference (an ETL connector) has no
relational operators at all (SURVEY §2.7, CSVProvider.cs:563-577 is a
row pump); this module is part of the engine's native analytics
surface mandated by the north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import exact_sum, register, sql_exact_sum


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    cand AS (
      SELECT p.p_partkey, p.p_brand, s.s_name,
             CAST(s.s_acctbal AS DOUBLE) AS s_acctbal, n.n_name
      FROM pairs pr
      JOIN part p ON pr.l_partkey = p.p_partkey
      JOIN supplier s ON pr.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE' AND p.p_size = 15 AND p.p_type = 'STANDARD'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand
    FROM cand c
    WHERE s_acctbal = (SELECT MIN(s_acctbal) FROM cand c2
                       WHERE c2.p_partkey = c.p_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    doc="TPC-H Q2 shape: min-cost supplier per part (correlated MIN "
        "decorrelated to a window over the candidate set; part-supplier "
        "pairs derived from lineitem in lieu of partsupp).",
    tags=("tpch", "join", "subquery"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cand = (
        pairs.join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), pairs.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "n_name",
        )
    )
    # min() is order-independent, so a per-part window min is safe on
    # doubles; the window reuses the part-key partitioning.
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q4_order_priority",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    doc="TPC-H Q4 shape: priority counts over orders with a late "
        "lineitem (EXISTS → left-semi join; shipdate-vs-orderdate lag "
        "proxies the missing commit/receipt dates).",
    tags=("tpch", "subquery", "agg"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q7_nation_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS l_year,
           {sql_exact_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 shape: bilateral trade volume between two nations by "
        "ship year (two nation-dim broadcasts, disjunctive pair filter).",
    tags=("tpch", "join", "agg"),
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8_market_share",
    oracle=f"""
    WITH all_nations AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
           CAST({sql_exact_sum("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END")}
                / {sql_exact_sum('volume')} AS DOUBLE) AS mkt_share
    FROM all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="TPC-H Q8 shape: one nation's market share of regional PROMO "
        "part revenue per year (conditional-sum ratio of decimal sums).",
    tags=("tpch", "join", "agg"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
        .groupBy("o_year")
        .agg(
            (
                exact_sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))
                )
                / exact_sum(vol)
            )
            .cast("double")
            .alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
           {sql_exact_sum('l.l_extendedprice * (1 - l.l_discount)'
                     ' - 0.1 * p.p_retailprice * l.l_quantity')} AS sum_profit
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9 shape: profit by supplier nation and order year over "
        "parts matching a name pattern (supply cost proxied as "
        "0.1 * p_retailprice — no partsupp in the fixtures).",
    tags=("tpch", "join", "agg"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nation = load_table(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
        .withColumnRenamed("n_name", "nation")
        .groupBy("nation", "o_year")
        .agg(exact_sum(profit).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@register(
    "q11_important_parts",
    oracle=f"""
    WITH scoped AS (
      SELECT l.l_partkey, l.l_extendedprice, l.l_quantity
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    )
    SELECT l_partkey AS p_partkey,
           {sql_exact_sum('l_extendedprice * l_quantity')} AS part_value
    FROM scoped
    GROUP BY l_partkey
    HAVING {sql_exact_sum('l_extendedprice * l_quantity')} >
           (SELECT {sql_exact_sum('l_extendedprice * l_quantity')} * 0.001
            FROM scoped)
    ORDER BY part_value DESC, p_partkey
    """,
    doc="TPC-H Q11 shape: parts holding an outsized share of one "
        "region's traded value (scalar-subquery threshold over the same "
        "scoped set; lineitem value in lieu of partsupp stock).",
    tags=("tpch", "subquery", "agg"),
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    scoped = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("l_partkey", "l_extendedprice", "l_quantity")
    )
    value = F.col("l_extendedprice") * F.col("l_quantity")
    per_part = scoped.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        exact_sum(value).alias("part_value")
    )
    total = scoped.agg((exact_sum(value) * 0.001).alias("threshold"))
    # scalar threshold broadcast to every partition — no second scan of
    # the per-part aggregate, no shuffle.
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("p_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "p_partkey")
    )


@register(
    "q12_shipmode_priority",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
    doc="TPC-H Q12 shape: priority-class line counts per category "
        "(l_returnflag proxies the missing l_shipmode).",
    tags=("tpch", "join", "agg"),
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c.c_custkey
    ) per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 shape: distribution of per-customer order counts "
        "(outer join keeps zero-order customers; priority filter inside "
        "the join condition, not the WHERE).",
    tags=("tpch", "join", "agg"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "4-NOT SPECIFIED"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
    doc="TPC-H Q15 shape: supplier(s) with the maximum quarterly "
        "revenue (scalar MAX broadcast against the same aggregate — "
        "decimal-summed revenue makes the equality exact).",
    tags=("tpch", "subquery", "agg"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    best = revenue.agg(F.max("total_revenue").alias("best_revenue"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("best_revenue"))
        .join(F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q16_supplier_part_count",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT pr.l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pr
    JOIN part p ON pr.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND pr.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                               WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
    doc="TPC-H Q16 shape: distinct supplier counts per part attribute "
        "triple, excluding flagged suppliers (NOT IN → anti join; "
        "negative acctbal proxies the complaints filter).",
    tags=("tpch", "join", "agg", "subquery"),
)
def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    flagged = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        pairs.join(F.broadcast(flagged), pairs.l_suppkey == flagged.s_suppkey, "left_anti")
        .join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@register(
    "q17_small_qty_revenue",
    oracle=f"""
    WITH part_avg AS (
      SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_cut
      FROM lineitem GROUP BY l_partkey
    )
    SELECT {sql_exact_sum('l.l_extendedprice')}
           / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN part_avg a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3' AND l.l_quantity < a.qty_cut
    """,
    doc="TPC-H Q17 shape: revenue lost to small-quantity orders "
        "(correlated per-part AVG decorrelated into a pre-aggregate "
        "join; whole-number quantities keep the double AVG exact).",
    tags=("tpch", "subquery", "agg"),
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # AVG over whole-number doubles is order-independent (every partial
    # sum is an exactly-representable integer), so plain avg matches.
    part_avg = li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_cut")
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(part_avg, li.l_partkey == part_avg.avg_partkey)
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            (exact_sum(F.col("l_extendedprice")) / 7.0).alias("avg_yearly")
        )
    )


@register(
    "q18_large_volume_customer",
    oracle=f"""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           {sql_exact_sum('l.l_quantity')} AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    HAVING {sql_exact_sum('l.l_quantity')} > 250
    ORDER BY o_totalprice DESC, o.o_orderdate, o.o_orderkey
    LIMIT 100
    """,
    doc="TPC-H Q18 shape: customers behind the largest-volume orders "
        "(group on the full order key set, HAVING on the decimal "
        "quantity sum, price-ranked top 100).",
    tags=("tpch", "join", "agg"),
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(exact_sum(F.col("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@register(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT {sql_exact_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape: revenue under a three-branch disjunctive "
        "brand/size/quantity predicate (single equi-join, OR pushed "
        "into the join output filter).",
    tags=("tpch", "join", "agg"),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    pred = (
        ((F.col("p_brand") == "Brand#1") & sz.between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & sz.between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & sz.between(1, 15) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(pred)
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@register(
    "q20_promotion_suppliers",
    oracle="""
    SELECT s.s_name, CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'AFRICA'
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE 'red%'
          AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING SUM(l.l_quantity) > 50
      )
    ORDER BY s.s_name
    """,
    doc="TPC-H Q20 shape: suppliers who moved real volume of a part "
        "family in a year (IN over a grouped HAVING → semi join; "
        "whole-number quantity sums are exact in double).",
    tags=("tpch", "subquery", "join"),
)
def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    movers = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AFRICA")
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(movers, supp.s_suppkey == movers.l_suppkey, "left_semi")
        .select("s_name", F.col("s_acctbal").cast("double").alias("s_acctbal"))
        .orderBy("s_name")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
    doc="TPC-H Q21 shape: the sole late supplier in multi-supplier "
        "finished orders. The correlated EXISTS/NOT EXISTS pair is "
        "decorrelated into one per-order aggregate (distinct suppliers, "
        "distinct late suppliers) joined back to the late rows — one "
        "extra shuffle instead of two correlated scans; lateness is "
        "shipdate > orderdate + 90 days (no receipt/commit dates).",
    tags=("tpch", "subquery", "join", "agg"),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    # all lineitems of finished orders, tagged late/on-time
    rows = li.join(orders, li.l_orderkey == orders.o_orderkey).withColumn(
        "is_late",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).cast(
            "int"
        ),
    )
    per_order = rows.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    late = rows.filter(F.col("is_late") == 1).select("l_orderkey", "l_suppkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        late.join(
            per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)),
            "l_orderkey",
            "left_semi",
        )
        .join(F.broadcast(supp), late.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


@register(
    "q22_idle_customers",
    oracle=f"""
    SELECT c.c_mktsegment, COUNT(*) AS numcust,
           {sql_exact_sum('c.c_acctbal')} AS totacctbal
    FROM customer c
    WHERE c.c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'FURNITURE')
      AND c.c_acctbal > (SELECT {sql_exact_sum('c2.c_acctbal', mean=True)} FROM customer c2
                         WHERE c2.c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    doc="TPC-H Q22 shape: well-funded customers with no recent orders, "
        "by segment (scalar decimal AVG broadcast + anti join on the "
        "date-filtered order feed; mktsegment proxies the phone-prefix "
        "country codes; every fixture customer has *some* order, so "
        "idleness is measured over the trailing window).",
    tags=("tpch", "subquery", "agg"),
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        exact_sum(F.col("c_acctbal"), mean=True).alias("avg_bal")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.filter(
            F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING", "FURNITURE")
        )
        .join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            exact_sum(F.col("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )
