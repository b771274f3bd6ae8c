"""Relational operator inventory (SURVEY.md §2.7).

The reference delegates all multi-table logic to its framework (verified
absent in-repo — SURVEY.md §2.7); this engine supplies the full relational
surface as native Spark, with a DuckDB SQL oracle per query. Everything
here is stock DataFrame API — Catalyst supplies pushdown, pruning, join
selection (broadcast for the small dims), partial aggregation and AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import exact_sum, register, sql_exact_sum

# --------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (scan -> filter -> agg -> sort).
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_exact_sum('l_quantity')} AS sum_qty,
           {sql_exact_sum('l_extendedprice')} AS sum_base_price,
           {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_exact_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {sql_exact_sum('l_quantity', mean=True)} AS avg_qty,
           {sql_exact_sum('l_extendedprice', mean=True)} AS avg_price,
           {sql_exact_sum('l_discount', mean=True)} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="Flagship scan→filter→groupBy→agg→sort (TPC-H Q1 shape).",
    tags=("agg", "flagship"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum(F.col("l_quantity")).alias("sum_qty"),
            exact_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            exact_sum(disc_price).alias("sum_disc_price"),
            exact_sum(charge).alias("sum_charge"),
            exact_sum(F.col("l_quantity"), mean=True).alias("avg_qty"),
            exact_sum(F.col("l_extendedprice"), mean=True).alias("avg_price"),
            exact_sum(F.col("l_discount"), mean=True).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# Joins. Catalyst picks the physical strategy; we broadcast the dims that
# are provably small at any scale factor (nation=25, region=5 rows).
# --------------------------------------------------------------------------


@register(
    "q_join_inner",
    oracle=f"""
    SELECT c.c_mktsegment,
           n.n_name,
           {sql_exact_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY c.c_mktsegment, n.n_name
    """,
    doc="3-way inner equi-join fact→dim chain; nation broadcast.",
    tags=("join", "agg"),
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_mktsegment", "n_name")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q_join_left",
    oracle=f"""
    SELECT c.c_custkey,
           c.c_name,
           COUNT(o.o_orderkey) AS n_orders,
           {sql_exact_sum('o.o_totalprice')} AS total_spent
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
    doc="Left outer join preserving order-less customers (NULL-safe agg).",
    tags=("join",),
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            exact_sum(F.col("o_totalprice")).alias("total_spent"),
        )
    )


@register(
    "q_join_right",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_orderstatus
    FROM orders o
    RIGHT JOIN customer c
      ON o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    """,
    doc="Right outer join with a non-key residual condition.",
    tags=("join",),
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cond = (orders.o_custkey == cust.c_custkey) & (orders.o_totalprice > 300000)
    return orders.join(cust, cond, "right").select(
        "c_custkey", "c_mktsegment", "o_orderkey", "o_orderstatus"
    )


@register(
    "q_join_full",
    oracle=f"""
    WITH big AS (
      SELECT o_custkey, COUNT(*) AS n_big,
             {sql_exact_sum('o_totalprice')} AS big_total
      FROM orders WHERE o_totalprice > 250000 GROUP BY o_custkey
    )
    SELECT c.c_custkey, c.c_acctbal, b.n_big, b.big_total
    FROM customer c
    FULL OUTER JOIN big b ON c.c_custkey = b.o_custkey
    """,
    doc="Full outer join between customer dim and a filtered order agg.",
    tags=("join",),
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = (
        orders.filter(F.col("o_totalprice") > 250000)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_big"),
            exact_sum(F.col("o_totalprice")).alias("big_total"),
        )
    )
    return cust.join(big, cust.c_custkey == big.o_custkey, "full").select(
        "c_custkey", "c_acctbal", "n_big", "big_total"
    )


@register(
    "q_semijoin",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
    doc="Left-semi join (EXISTS): customers with a finished order.",
    tags=("join",),
)
def q_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_acctbal")


@register(
    "q_antijoin",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 350000)
    """,
    doc="Left-anti join (NOT EXISTS): customers with no very large order.",
    tags=("join",),
)
def q_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 350000
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "q_range_join",
    oracle=f"""
    SELECT b.band,
           COUNT(*) AS n_items,
           {sql_exact_sum('l.l_extendedprice')} AS band_price
    FROM lineitem l
    JOIN (VALUES ('low', 0.0, 10.0), ('mid', 10.0, 25.0), ('high', 25.0, 1e9))
         AS b(band, lo, hi)
      ON l.l_quantity > b.lo AND l.l_quantity <= b.hi
    GROUP BY b.band
    """,
    doc="Theta/range join against a tiny broadcast band table (BNLJ).",
    tags=("join", "range"),
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(
        [("low", 0.0, 10.0), ("mid", 10.0, 25.0), ("high", 25.0, 1e9)],
        "band string, lo double, hi double",
    )
    cond = (li.l_quantity > bands.lo) & (li.l_quantity <= bands.hi)
    return (
        li.join(F.broadcast(bands), cond)
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            exact_sum(F.col("l_extendedprice")).alias("band_price"),
        )
    )


# --------------------------------------------------------------------------
# Aggregation family.
# --------------------------------------------------------------------------


@register(
    "q_agg_stats",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
           {sql_exact_sum('o_totalprice')} AS sum_price,
           {sql_exact_sum('o_totalprice', mean=True)} AS avg_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Hash aggregate with count/count-distinct/min/max/sum/avg.",
    tags=("agg",),
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
        exact_sum(F.col("o_totalprice")).alias("sum_price"),
        exact_sum(F.col("o_totalprice"), mean=True).alias("avg_price"),
    )


@register(
    "q_agg_having",
    oracle="""
    SELECT l_suppkey, COUNT(*) AS n_items
    FROM lineitem
    GROUP BY l_suppkey
    HAVING COUNT(*) > 100
    """,
    doc="Aggregate + post-aggregation filter (HAVING).",
    tags=("agg",),
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_items"))
        .filter(F.col("n_items") > 100)
    )


@register(
    "q_distinct",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    doc="Distinct projection (shuffle-dedup).",
    tags=("agg",),
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .select("c_mktsegment", "c_nationkey")
        .distinct()
    )


@register(
    "q_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
           COUNT(*) AS n_rows,
           {sql_exact_sum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="Hierarchical subtotals via ROLLUP with grouping flags.",
    tags=("agg", "rollup"),
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
        F.count(F.lit(1)).alias("n_rows"),
        exact_sum(F.col("l_quantity")).alias("sum_qty"),
    )


@register(
    "q_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
           COUNT(*) AS n_rows,
           {sql_exact_sum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="All grouping-set combinations via CUBE.",
    tags=("agg", "cube"),
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
        F.count(F.lit(1)).alias("n_rows"),
        exact_sum(F.col("l_extendedprice")).alias("sum_price"),
    )


@register(
    "q_pivot",
    oracle=f"""
    SELECT l_returnflag,
           {sql_exact_sum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_O,
           {sql_exact_sum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Pivot l_linestatus into columns (conditional aggregation).",
    tags=("agg", "pivot"),
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(exact_sum(F.col("l_quantity")))
    )
    return piv.select(
        "l_returnflag",
        F.col("O").alias("qty_O"),
        F.col("F").alias("qty_F"),
    )


# --------------------------------------------------------------------------
# Windows. Running sums accumulate in exact decimal so the oracle's
# (segment-tree) window aggregation bit-matches Spark's sequential one.
# --------------------------------------------------------------------------


@register(
    "q_window_topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
      FROM orders) t
    WHERE rn <= 3
    """,
    doc="Top-3 orders per customer via row_number (deterministic tiebreak).",
    tags=("window",),
)
def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


_RUNNING_W = (
    "OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
)


@register(
    "q_window_running",
    # r13 decimal-sum migration: a cumulative per-customer frame is a
    # full-history prefix sum — data-scaled — so it rides the windowed
    # micros form.
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           {sql_exact_sum("o_totalprice", over=_RUNNING_W)}
             AS running_spend
    FROM orders
    """,
    doc="Per-customer running sum (cumulative window frame).",
    tags=("window",),
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        exact_sum(F.col("o_totalprice"), over=w).alias("running_spend"),
    )


@register(
    "q_window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey,
           LAG(o_totalprice) OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           o_totalprice - LAG(o_totalprice) OVER w AS delta_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="lag/lead analytics per customer order history.",
    tags=("window",),
)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        prev.alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        (F.col("o_totalprice") - prev).alias("delta_prev"),
    )


@register(
    "q_window_rank_dense",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice,
           CAST(RANK() OVER w AS INT) AS price_rank,
           CAST(DENSE_RANK() OVER w AS INT) AS price_dense_rank,
           CAST(NTILE(4) OVER w AS INT) AS quartile
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey)
    """,
    doc="rank / dense_rank / ntile per brand.",
    tags=("window",),
)
def q_window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return part.select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        F.rank().over(w).cast("int").alias("price_rank"),
        F.dense_rank().over(w).cast("int").alias("price_dense_rank"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


# --------------------------------------------------------------------------
# Sort / limit / set ops / scalar functions.
# --------------------------------------------------------------------------


@register(
    "q_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    doc="Global top-k (Spark plans TakeOrderedAndProject — no full sort).",
    tags=("sort",),
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "q_union",
    oracle="""
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    UNION
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
    """,
    doc="UNION (distinct) of two key sets.",
    tags=("setop",),
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        F.col("c_custkey").alias("custkey")
    )
    b = orders.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.unionByName(b).distinct()


@register(
    "q_intersect",
    oracle="""
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="INTERSECT of two key sets.",
    tags=("setop",),
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


@register(
    "q_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="EXCEPT: customers minus customers-with-finished-orders.",
    tags=("setop",),
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    a = cust.select(F.col("c_custkey").alias("custkey"))
    b = orders.select(F.col("o_custkey").alias("custkey"))
    return a.exceptAll(b).distinct()


@register(
    "q_scalar_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INT) AS o_year,
           CAST(MONTH(o_orderdate) AS INT) AS o_month,
           UPPER(o_orderpriority) AS prio_upper,
           SUBSTRING(o_orderstatus, 1, 1) AS status_c,
           CAST(LENGTH(o_orderpriority) AS BIGINT) AS prio_len,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
           CAST(CEIL(o_totalprice) AS BIGINT) AS price_ceil,
           ABS(o_totalprice - 100000.0) AS price_dist,
           CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS size_class,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_decoded,
           CONCAT(o_orderstatus, '-', o_orderpriority) AS status_prio
    FROM orders
    WHERE o_orderkey <= 1000
    """,
    doc="Scalar string/date/math/conditional function coverage.",
    tags=("scalar",),
)
def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.month("o_orderdate").cast("int").alias("o_month"),
        F.upper("o_orderpriority").alias("prio_upper"),
        F.substring("o_orderstatus", 1, 1).alias("status_c"),
        F.length("o_orderpriority").cast("bigint").alias("prio_len"),
        F.floor("o_totalprice").cast("bigint").alias("price_floor"),
        F.ceil("o_totalprice").cast("bigint").alias("price_ceil"),
        F.abs(F.col("o_totalprice") - 100000.0).alias("price_dist"),
        F.when(F.col("o_totalprice") > 200000, "big")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN")).alias(
            "status_decoded"
        ),
        F.concat(
            F.col("o_orderstatus"), F.lit("-"), F.col("o_orderpriority")
        ).alias("status_prio"),
    )


@register(
    "q_approx_distinct",
    # HLL++ estimates are engine-specific, so the estimate itself can't be
    # hash-compared — but its ERROR BOUND can: emit the exact count plus a
    # within-5% flag. The oracle expects TRUE everywhere, so a sketch
    # regression (wrong merge, precision loss) fails the gate instead of
    # hiding behind a rows-only check.
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS approx_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="approx_count_distinct (HLL++, rsd=0.01) checked against the "
        "exact count inside the query; the oracle pins the bound.",
    tags=("agg", "approx"),
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    exact = F.countDistinct("l_partkey").cast("bigint")
    approx = F.approx_count_distinct("l_partkey", 0.01)
    return li.groupBy("l_returnflag").agg(
        exact.alias("exact_parts"),
        (
            F.abs(approx - exact) <= 0.05 * exact
        ).alias("approx_within_5pct"),
    )
