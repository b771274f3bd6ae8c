"""Sixth relational batch: HAVING with correlated EXISTS, ntile buckets,
ordered string aggregation, decimal-exact correlation, map columns, date
spines, unbounded window frames, and deterministic mode-per-group.

All shapes are absent from the reference (SURVEY.md §2.7 — the reference
has no aggregate/join/window logic; see /root/reference/src/CSVProvider.cs
row pump at 563-577) and enter the engine as native Spark surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from .registry import register, exact_sum, sql_exact_sum


@register(
    "q_having_exists",
    oracle=f"""
    SELECT n.n_nationkey, n.n_name,
           COUNT(*) AS n_cust,
           {sql_exact_sum('c.c_acctbal')} AS total_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_nationkey, n.n_name
    HAVING COUNT(*) >= 5 AND EXISTS (
      SELECT 1 FROM supplier s
      WHERE s.s_nationkey = n.n_nationkey AND s.s_acctbal > 9000)
    """,
    doc="Aggregate filtered by a correlated EXISTS in HAVING — planned as "
        "agg -> left-semi join against the filtered subquery (no "
        "per-group re-scan; the semi join broadcasts the small side).",
    tags=("agg", "subquery"),
)
def q_having_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")
    grouped = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_nationkey", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            exact_sum(F.col("c_acctbal")).alias("total_bal"),
        )
        .filter(F.col("n_cust") >= 5)
    )
    rich_supp_nations = supp.filter(F.col("s_acctbal") > 9000).select(
        F.col("s_nationkey").alias("n_nationkey")
    )
    return grouped.join(rich_supp_nations, "n_nationkey", "left_semi")


@register(
    "q_ntile",
    oracle=f"""
    SELECT CAST(q AS INT) AS quartile, COUNT(*) AS n,
           {sql_exact_sum('c_acctbal')} AS total_bal
    FROM (SELECT c_acctbal,
                 NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS q
          FROM customer) t
    GROUP BY q
    """,
    doc="Equal-height quartiles via ntile; unique-key tiebreaker keeps "
        "bucket assignment deterministic across engines. (At 100 TB the "
        "global sort behind ntile is the bottleneck — approx_percentile "
        "cutpoints + range partitioning is the scale path.)",
    tags=("window",),
)
def q_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = W.orderBy("c_acctbal", "c_custkey")
    return (
        cust.select("c_acctbal", F.ntile(4).over(w).alias("q"))
        .groupBy(F.col("q").cast("int").alias("quartile"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum(F.col("c_acctbal")).alias("total_bal"),
        )
    )


@register(
    "q_listagg",
    oracle="""
    SELECT r.r_name, string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           COUNT(*) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    doc="Ordered string aggregation (LISTAGG): collect_list -> array_sort "
        "-> array_join gives an order-deterministic result without a "
        "per-group sort pass.",
    tags=("agg", "string"),
)
def q_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


@register(
    "q_corr_decimal",
    # r13 decimal-sum migration: all five moment sums are data-scaled
    # (per-returnflag lineitem sums; syy ~ 1e16 at sf1) — micros form.
    # price^2 carries 4 exact decimals, qty*price 4, so the 6-dp
    # quantum is EXACT for every moment; per-row micros peak at
    # ~2.5e17 < 2^63.
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             {sql_exact_sum("l_quantity")} AS sx,
             {sql_exact_sum("l_extendedprice")} AS sy,
             {sql_exact_sum("l_quantity * l_extendedprice")} AS sxy,
             {sql_exact_sum("l_quantity * l_quantity")} AS sxx,
             {sql_exact_sum("l_extendedprice * l_extendedprice")} AS syy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           ROUND(CAST((n * sxy - sx * sy)
                / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                AS DOUBLE), 9) AS corr_qty_price
    FROM s
    """,
    doc="Pearson correlation rebuilt from exact-decimal moment sums — "
        "order-independent across partitions, unlike corr() over raw "
        "doubles whose accumulation order varies run to run. One shuffle, "
        "map-side partial aggregation of all five moments at once. "
        "Reported at 9 decimals: the moment sums are exact, but the "
        "DECIMAL->DOUBLE conversion itself is correctly rounded in "
        "Spark (BigDecimal.doubleValue) and double-rounded in DuckDB "
        "(int128->double, then scale division) — a 1-ulp divergence "
        "the round-10 sf0.001 full sweep surfaced on the A flag.",
    tags=("agg", "stats"),
)
def q_corr_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum(x).alias("sx"),
        exact_sum(y).alias("sy"),
        exact_sum(x * y).alias("sxy"),
        exact_sum(x * x).alias("sxx"),
        exact_sum(y * y).alias("syy"),
    )
    n = F.col("n")
    corr = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round(corr.cast("double"), 9).alias("corr_qty_price"),
    )


@register(
    "q_map_column",
    oracle="""
    SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS first_key,
           MAX(n_nationkey) AS max_val
    FROM nation GROUP BY n_regionkey
    """,
    doc="MapType column plumbing: per region build map<n_name, n_nationkey> "
        "via map_from_entries(collect_list(struct)), then read it back with "
        "map_keys/map_values — the oracle checks the scalar projections.",
    tags=("map", "agg"),
)
def q_map_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    m = (
        nation.groupBy("n_regionkey")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("n_name", "n_nationkey"))
            ).alias("m")
        )
    )
    return m.select(
        "n_regionkey",
        F.size("m").alias("n_nations"),
        F.array_min(F.map_keys("m")).alias("first_key"),
        F.array_max(F.map_values("m")).alias("max_val"),
    )


@register(
    "q_date_spine",
    oracle="""
    WITH spine AS (
      SELECT CAST(unnest(generate_series(DATE '1994-01-01', DATE '1994-12-01',
                                         INTERVAL 1 MONTH)) AS DATE) AS month
    ), monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             COUNT(*) AS n_orders
      FROM orders
      WHERE o_orderdate >= DATE '1994-01-01' AND o_orderdate < DATE '1995-01-01'
      GROUP BY 1)
    SELECT s.month, COALESCE(m.n_orders, 0) AS n_orders
    FROM spine s LEFT JOIN monthly m ON s.month = m.month
    """,
    doc="Date spine: sequence() generates the month axis so empty months "
        "survive the left join (gap-filling — a groupBy alone drops them).",
    tags=("date", "join"),
)
def q_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1994-01-01").cast("date"),
                F.lit("1994-12-01").cast("date"),
                F.expr("interval 1 month"),
            )
        ).alias("month")
    )
    monthly = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1994-01-01"))
            & (F.col("o_orderdate") < F.lit("1995-01-01"))
        )
        .groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return (
        F.broadcast(spine)
        .join(monthly, "month", "left")
        .select("month", F.coalesce("n_orders", F.lit(0)).alias("n_orders"))
    )


@register(
    "q_first_last_value",
    oracle="""
    SELECT DISTINCT o_custkey,
           FIRST_VALUE(o_orderdate) OVER w AS first_order,
           LAST_VALUE(o_orderdate)  OVER w AS last_order,
           FIRST_VALUE(o_totalprice) OVER w AS first_price
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    doc="first_value/last_value over an unbounded frame (the 'whole group "
        "visible' window) with a unique-key tiebreaker; one row per "
        "customer via distinct.",
    tags=("window",),
)
def q_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        F.first("o_orderdate").over(w).alias("first_order"),
        F.last("o_orderdate").over(w).alias("last_order"),
        F.first("o_totalprice").over(w).alias("first_price"),
    ).distinct()


@register(
    "q_mode_per_group",
    oracle="""
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n
    FROM (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
      FROM orders GROUP BY o_orderstatus, o_orderpriority) t
    WHERE rn = 1
    """,
    doc="Deterministic mode(): count per (group, value), then argmax with "
        "a lexical tiebreaker — two shuffles, both on small key spaces; "
        "never collects values.",
    tags=("agg", "stats"),
)
def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = W.partitionBy("o_orderstatus").orderBy(F.desc("n"), "o_orderpriority")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "n"
        )
    )


@register(
    "q_histogram",
    oracle=f"""
    SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
           COUNT(*) AS n, {sql_exact_sum('o_totalprice')} AS total
    FROM orders GROUP BY 1
    """,
    doc="Fixed-width histogram by integer bucketing — one shuffle on the "
        "bucket id; the per-row floor stays in whole-stage codegen.",
    tags=("agg", "stats"),
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000).cast("bigint")
    return orders.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum(F.col("o_totalprice")).alias("total"),
    )


@register(
    "q_salted_join",
    oracle=f"""
    SELECT o.o_orderpriority, COUNT(*) AS n_items,
           {sql_exact_sum('l.l_extendedprice')} AS total_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="Skew-resistant salted equi-join (operators/scale.salted_join): "
        "the fact side gets a random salt, the dim side is replicated per "
        "salt, so a hot orderkey spreads over 8 tasks; results are "
        "identical to the plain join, which is what the oracle runs.",
    tags=("join", "scale"),
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scale import salted_join

    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    orders = load_table(spark, sf_dir, "orders")
    joined = salted_join(li, orders, on="o_orderkey", salt_buckets=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        exact_sum(F.col("l_extendedprice")).alias("total_price"),
    )


@register(
    "q_trailing_features",
    # r13 decimal-sum migration: the trailing frame's row count scales
    # with event density (data-scaled at higher tiers), so the frame
    # sum rides the windowed micros form.
    oracle=f"""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_prev_1h,
           {sql_exact_sum("value", over="OVER w")} AS sum_prev_1h
    FROM events
    WHERE user_id < 20
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
    doc="Trailing-window feature engineering: per-user event count/sum "
        "over the last hour via a RANGE frame on epoch seconds — the "
        "standard per-entity rolling-feature shape; one shuffle on "
        "user_id, no self-join. (Decimal sums keep the running values "
        "order-exact; ties in ts share a frame, so no tiebreaker needed.)",
    tags=("window", "events", "features"),
)
def q_trailing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_prev_1h"),
        exact_sum(F.col("value"), over=w).alias("sum_prev_1h"),
    )


@register(
    "q_bucketed_join",
    oracle=f"""
    SELECT o.o_orderstatus, COUNT(*) AS n_items,
           {sql_exact_sum('l.l_quantity')} AS total_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
    doc="Shuffle-free co-located join: both sides persisted as bucketed "
        "tables on the join key (operators/scale.write_bucketed), so the "
        "join reads pre-partitioned buckets with NO exchange — the "
        "pattern for repeated fact-fact joins at 100 TB where one "
        "up-front bucketed write amortizes every later join's shuffle.",
    tags=("join", "scale"),
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    from urllib.parse import urlparse

    from ..operators.scale import bucketed_join, write_bucketed

    # a fresh session has an empty in-memory catalog, but the managed
    # table LOCATION from a previous run survives on disk and blocks
    # saveAsTable — drop both the entry and any orphaned location
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("gate_li_bkt", "gate_ord_bkt"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    write_bucketed(li, "gate_li_bkt", 8, ["l_orderkey"])
    write_bucketed(orders, "gate_ord_bkt", 8, ["l_orderkey"])
    joined = bucketed_join(spark, "gate_li_bkt", "gate_ord_bkt", ["l_orderkey"])
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        exact_sum(F.col("l_quantity")).alias("total_qty"),
    )


@register(
    "q_except_all",
    oracle="""
    SELECT custkey, COUNT(*) AS n FROM (
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
      EXCEPT ALL
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t
    GROUP BY custkey
    """,
    doc="Multiplicity-preserving EXCEPT ALL (bag semantics): each open "
        "order survives once per unmatched multiplicity, unlike the "
        "distinct EXCEPT; the grouped count pins the multiplicities.",
    tags=("setop",),
)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.exceptAll(b).groupBy("custkey").agg(F.count(F.lit(1)).alias("n"))


@register(
    "q_null_ordering",
    oracle="""
    SELECT o_orderkey, NULLIF(o_orderpriority, '1-URGENT') AS prio
    FROM orders
    WHERE o_custkey < 30
    ORDER BY prio ASC NULLS FIRST, o_orderkey
    LIMIT 50
    """,
    doc="Explicit null ordering in a top-k: Spark's default (ASC = nulls "
        "FIRST) and DuckDB's (nulls LAST) differ, so portable sorts on "
        "nullable keys must pin NULLS FIRST/LAST — this query locks the "
        "convention cross-engine. (Order itself isn't hashed; the LIMIT "
        "makes the ordering semantics observable.)",
    tags=("sort",),
)
def q_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 30)
    prio = F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT"))
    return (
        orders.select("o_orderkey", prio.alias("prio"))
        .orderBy(F.col("prio").asc_nulls_first(), "o_orderkey")
        .limit(50)
    )


@register(
    "q_intersect_all",
    oracle="""
    SELECT custkey, COUNT(*) AS n FROM (
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
      INTERSECT ALL
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t
    GROUP BY custkey
    """,
    doc="Multiplicity-preserving INTERSECT ALL: each customer appears "
        "min(open-order count, finished-order count) times.",
    tags=("setop",),
)
def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersectAll(b).groupBy("custkey").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "q_join_strategy_hints",
    oracle=f"""
    WITH agg AS (
      SELECT o.o_orderstatus, COUNT(*) AS n_items,
             {sql_exact_sum('l.l_extendedprice')} AS total_price
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderstatus
    )
    SELECT 'merge' AS strategy, o_orderstatus, n_items, total_price,
           TRUE AS hint_respected
    FROM agg
    UNION ALL
    SELECT 'shuffle_hash', o_orderstatus, n_items, total_price, TRUE
    FROM agg
    ORDER BY strategy, o_orderstatus
    """,
    doc="Explicit join-strategy control: the same fact-fact join run "
        "under a merge hint (forcing sort-merge) and a shuffle_hash "
        "hint (forcing shuffled-hash), each verified against the "
        "physical plan and pinned TRUE by the oracle. At fixture scale "
        "Catalyst would auto-broadcast the orders side; at 100 TB both "
        "sides are facts and the hint IS the tuning knob — SMJ when "
        "both sides spill-sort cleanly, SHJ when one side is modestly "
        "sized and sorting is the bottleneck.",
    tags=("join", "scale", "plan"),
)
def q_join_strategy_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )

    def run(hint: str, marker: str) -> DataFrame:
        agg = (
            li.join(orders.hint(hint), li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                exact_sum(F.col("l_extendedprice")).alias("total_price"),
            )
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        return agg.select(
            F.lit(hint).alias("strategy"),
            "o_orderstatus",
            "n_items",
            "total_price",
            F.lit(marker in plan).alias("hint_respected"),
        )

    return (
        run("merge", "SortMergeJoin")
        .unionByName(run("shuffle_hash", "ShuffledHashJoin"))
        .orderBy("strategy", "o_orderstatus")
    )


@register(
    "q_kmv_join_planner",
    # round 9: a sketch estimate that is USED, not just computed — the
    # broadcast-vs-shuffle decision for each join is DERIVED from the
    # dim side's KMV distinct estimate (<= 500 distinct keys ->
    # broadcast, else shuffle_hash), and the chosen strategy is
    # verified against the executed plan. The Knuth hash family means
    # the oracle replays the sketch, the estimate AND the decision;
    # the join aggregates are exact cross-engine facts; at sf0.01 the
    # two cases land on opposite sides of the threshold so both
    # branches execute.
    oracle=f"""
    WITH dim_a AS (SELECT * FROM customer
                   WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000
                     AND c_custkey IS NOT NULL),
    dim_b AS (SELECT * FROM customer WHERE c_custkey IS NOT NULL),
    ha AS (SELECT DISTINCT CAST((CAST(c_custkey AS HUGEINT) * 2654435761
                                 + 1) % 2147483647 AS BIGINT) AS h
           FROM dim_a),
    hb AS (SELECT DISTINCT CAST((CAST(c_custkey AS HUGEINT) * 2654435761
                                 + 1) % 2147483647 AS BIGINT) AS h
           FROM dim_b),
    ea AS (SELECT CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                       ELSE 63.0 * 2147483647 /
                            (SELECT MAX(h) FROM
                             (SELECT h FROM ha ORDER BY h LIMIT 64))
                  END AS est FROM ha),
    eb AS (SELECT CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                       ELSE 63.0 * 2147483647 /
                            (SELECT MAX(h) FROM
                             (SELECT h FROM hb ORDER BY h LIMIT 64))
                  END AS est FROM hb),
    ja AS (SELECT COUNT(*) AS n_rows,
                  {sql_exact_sum('o.o_totalprice')} AS total_price
           FROM orders o JOIN dim_a d ON o.o_custkey = d.c_custkey),
    jb AS (SELECT COUNT(*) AS n_rows,
                  {sql_exact_sum('o.o_totalprice')} AS total_price
           FROM orders o JOIN dim_b d ON o.o_custkey = d.c_custkey)
    SELECT 'hot_building' AS which,
           ROUND((SELECT est FROM ea), 9) AS est_distinct,
           CASE WHEN (SELECT est FROM ea) <= 500 THEN 'broadcast'
                ELSE 'shuffle_hash' END AS strategy,
           TRUE AS hint_respected,
           (SELECT CAST(n_rows AS BIGINT) FROM ja) AS n_rows,
           (SELECT total_price FROM ja) AS total_price
    UNION ALL
    SELECT 'all_customers',
           ROUND((SELECT est FROM eb), 9),
           CASE WHEN (SELECT est FROM eb) <= 500 THEN 'broadcast'
                ELSE 'shuffle_hash' END,
           TRUE,
           (SELECT CAST(n_rows AS BIGINT) FROM jb),
           (SELECT total_price FROM jb)
    """,
    doc="KMV-driven join planning: the dim side's 64-value theta "
        "sketch (one distinct-hash pass + TakeOrdered — the artifact "
        "q_kmv_sketch grades) estimates its distinct-key count; the "
        "estimate picks the join strategy (<= 500 -> broadcast hint, "
        "else shuffle_hash) and the executed plan is checked for the "
        "chosen join node. The 100 TB story: CBO statistics go stale "
        "the moment a filter lands, but a sketch of the FILTERED dim "
        "costs one cheap pass and prices the broadcast decision on "
        "what will actually ship — the q_skew_stats companion on the "
        "build-size axis. Estimate, decision and join results are all "
        "value-replayed by the oracle.",
    tags=("join", "scale", "plan", "sketch"),
)
def q_kmv_join_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import KMV_K, KMV_P, kmv_sketch

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer")
    cases = {
        "hot_building": cust.filter(
            (F.col("c_mktsegment") == "BUILDING")
            & (F.col("c_acctbal") > 9000)
            & F.col("c_custkey").isNotNull()
        ),
        "all_customers": cust.filter(F.col("c_custkey").isNotNull()),
    }

    def run(which: str, dim: DataFrame) -> DataFrame:
        vals, n = kmv_sketch(dim, "c_custkey")
        if n < KMV_K:
            num, den = float(n), 1
        else:
            num, den = 63.0 * KMV_P, vals[KMV_K - 1]
        est = num / den
        choice = "broadcast" if est <= 500 else "shuffle_hash"
        marker = (
            "BroadcastHashJoin" if choice == "broadcast"
            else "ShuffledHashJoin"
        )
        agg = (
            orders.join(
                dim.hint(choice),
                orders.o_custkey == dim.c_custkey,
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                exact_sum(F.col("o_totalprice")).alias("total_price"),
            )
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        return agg.select(
            F.lit(which).alias("which"),
            F.round(F.lit(num) / F.lit(den), 9).alias("est_distinct"),
            F.lit(choice).alias("strategy"),
            F.lit(marker in plan).alias("hint_respected"),
            "n_rows",
            "total_price",
        )

    out = None
    for which, dim in cases.items():
        part = run(which, dim)
        out = part if out is None else out.unionByName(part)
    return out


@register(
    "q_runtime_bloom_filter",
    oracle=f"""
    SELECT o.o_orderstatus, COUNT(*) AS n_items,
           {sql_exact_sum('l.l_extendedprice')} AS total_price
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderstatus
    UNION ALL
    SELECT '_bloom_injected', CAST(1 AS BIGINT), 1.0
    """,
    doc="Runtime bloom-filter join pruning: when the dim side of a "
        "shuffle join carries a selective filter, Catalyst builds a "
        "bloom filter over the dim keys and injects might_contain() "
        "into the fact scan — fact rows that cannot join die before the "
        "shuffle. The thresholds that gate injection are sized for "
        "clusters, so the query pins them (and disables auto-broadcast "
        "to surface the shuffle join, restoring every conf after the "
        "eager materialization); the plan marker is appended as a "
        "sentinel row the oracle pins.",
    tags=("join", "scale", "plan"),
)
def q_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey", "o_orderstatus")
    pins = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in pins}
    try:
        for k, v in pins.items():
            spark.conf.set(k, v)
        agg = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                exact_sum(F.col("l_extendedprice")).alias("total_price"),
            )
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        injected = "might_contain" in plan or "Bloom" in plan
        sentinel = spark.range(1).select(
            F.lit("_bloom_injected").alias("o_orderstatus"),
            F.lit(1 if injected else 0).cast("bigint").alias("n_items"),
            F.lit(1.0 if injected else 0.0).alias("total_price"),
        )
        # materialize while the pinned confs are live — the returned
        # frame must not re-plan later under restored settings
        return (
            agg.unionByName(sentinel)
            .orderBy("o_orderstatus")
            .localCheckpoint(eager=True)
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


#: full bit-for-bit replay of the Bloom build + probe + audit — shared
#: by q_bloom_semijoin and its streaming twin q_stream_bloom_filter
#: (whose OR-merged filter is value-equal to the batch one, so the same
#: oracle checks both)
BLOOM_AUDIT_ORACLE = f"""
    WITH dim AS (
      SELECT DISTINCT c_custkey FROM customer
      WHERE c_mktsegment = 'BUILDING'
    ), bits AS (
      SELECT ((c_custkey % 2147483647) * 2654435761 + 1)
               % 2147483647 % 65536 AS pos FROM dim
      UNION ALL
      SELECT ((c_custkey % 2147483647) * 2246822519 + 7)
               % 2147483647 % 65536 FROM dim
      UNION ALL
      SELECT ((c_custkey % 2147483647) * 3266489917 + 31)
               % 2147483647 % 65536 FROM dim
    ), words AS (
      SELECT pos // 32 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS w
      FROM bits GROUP BY pos // 32
    ), probe AS (
      SELECT o.o_totalprice,
             d.c_custkey IS NOT NULL AS is_member,
             ((o.o_custkey % 2147483647) * 2654435761 + 1)
               % 2147483647 % 65536 AS p1,
             ((o.o_custkey % 2147483647) * 2246822519 + 7)
               % 2147483647 % 65536 AS p2,
             ((o.o_custkey % 2147483647) * 3266489917 + 31)
               % 2147483647 % 65536 AS p3
      FROM orders o LEFT JOIN dim d ON d.c_custkey = o.o_custkey
    ), checked AS (
      SELECT o_totalprice, is_member,
             ((COALESCE(w1.w, 0) & (CAST(1 AS BIGINT) << CAST(p1 % 32 AS INT)))
                = (CAST(1 AS BIGINT) << CAST(p1 % 32 AS INT)))
             AND
             ((COALESCE(w2.w, 0) & (CAST(1 AS BIGINT) << CAST(p2 % 32 AS INT)))
                = (CAST(1 AS BIGINT) << CAST(p2 % 32 AS INT)))
             AND
             ((COALESCE(w3.w, 0) & (CAST(1 AS BIGINT) << CAST(p3 % 32 AS INT)))
                = (CAST(1 AS BIGINT) << CAST(p3 % 32 AS INT)))
               AS bloom_pass
      FROM probe p
      LEFT JOIN words w1 ON w1.word = p.p1 // 32
      LEFT JOIN words w2 ON w2.word = p.p2 // 32
      LEFT JOIN words w3 ON w3.word = p.p3 // 32
    ), agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_fact,
             CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom_pass,
             CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact,
             CAST(SUM(CASE WHEN is_member AND NOT bloom_pass
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg,
             {sql_exact_sum("CASE WHEN is_member THEN o_totalprice ELSE 0 END")}
               AS member_revenue
      FROM checked
    )
    SELECT n_fact, n_bloom_pass, n_exact, n_false_neg, member_revenue,
           round(CAST(n_bloom_pass AS DOUBLE) / CAST(n_fact AS DOUBLE), 9)
             AS selectivity
    FROM agg
"""


def bloom_audit_frame(
    orders: DataFrame, dim: DataFrame, words: DataFrame | None = None,
    m_bits: int = 65536,
) -> DataFrame:
    """The Bloom audit aggregate shared by the batch and streaming
    queries: flag every order against the filter (built from ``dim``,
    or probed against a prebuilt/merged ``words`` table), mark exact
    membership with one broadcast join, and reduce to the single audit
    row (counts, the false-negative check, member revenue,
    selectivity)."""
    from ..operators.scale import bloom_flag, bloom_flag_from_words

    if words is None:
        flagged = bloom_flag(orders, dim, "o_custkey", "c_custkey", m_bits)
    else:
        flagged = bloom_flag_from_words(orders, words, "o_custkey", m_bits)
    member = (
        flagged.join(
            F.broadcast(dim.withColumnRenamed("c_custkey", "__k")),
            F.col("o_custkey") == F.col("__k"),
            "left",
        )
        .withColumn("is_member", F.col("__k").isNotNull())
        .drop("__k")
    )
    agg = member.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fact"),
        F.sum(F.col("bloom_pass").cast("bigint")).cast("bigint").alias(
            "n_bloom_pass"
        ),
        F.sum(F.col("is_member").cast("bigint")).cast("bigint").alias(
            "n_exact"
        ),
        F.sum(
            (F.col("is_member") & ~F.col("bloom_pass")).cast("bigint")
        ).cast("bigint").alias("n_false_neg"),
        exact_sum(
            F.when(F.col("is_member"), F.col("o_totalprice"))
            .otherwise(F.lit(0.0))
        ).alias("member_revenue"),
    )
    return agg.select(
        "n_fact",
        "n_bloom_pass",
        "n_exact",
        "n_false_neg",
        "member_revenue",
        F.round(
            F.col("n_bloom_pass").cast("double")
            / F.col("n_fact").cast("double"),
            9,
        ).alias("selectivity"),
    )


@register(
    "q_bloom_semijoin",
    oracle=BLOOM_AUDIT_ORACLE,
    doc="Bloom-pruned semi-join audit (operators/scale.py bloom_flag / "
        "bloom_semijoin): the manual form of Spark's injected runtime "
        "filter — BUILDING-segment customer keys build a 65536-bit "
        "bitmap (k=3 Knuth arithmetic hashes, one bit_or aggregate of "
        "at most m/32 words), packed into a single broadcast map row; "
        "every order probes it with three element_at+mask expressions "
        "(no shuffle, no UDF). The audit proves the contract the 100 TB "
        "path relies on: n_false_neg = 0 (a Bloom filter never drops a "
        "true match — the flagged row count bounds the exact semi-join "
        "from above), plus the realized selectivity and the "
        "exact-decimal member revenue. The arithmetic hashes let DuckDB "
        "replay the ENTIRE filter bit-for-bit, so bitmap, probe flags "
        "and counts are all value-checked, not just the final join.",
    tags=("join", "scale", "bloom"),
)
def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .distinct()
    )
    return bloom_audit_frame(orders, dim)


@register(
    "q_skew_join_planner",
    # round 11 (r10 verdict item 6): the skew companion to
    # q_kmv_join_planner — the statistic that drives the plan choice is
    # the FACT side's hot-key share plus the dim's cardinality, both
    # exact integers, and the chosen strategy is verified against the
    # executed plan. The decision rule encodes the measured skew-probe
    # ordering (tools/scale_probe.py --family skew, 6M rows, 30% hot
    # key: broadcast 0.22s < AQE skew-split 0.74s < salted 0.95s <
    # plain shuffle 1.16s): broadcast when the dim fits (<= 10k rows),
    # else AQE skew handling when one key holds >= 20% of the fact
    # side, else a plain sort-merge. Three cases exercise the rule: a
    # 51-row dim (broadcast), a constructed hot key sending ~35% of
    # lineitem rows to MIN(o_orderkey) against the full orders dim
    # (aqe_skew at gate SF, where orders > 10k rows), and the natural
    # near-unique l_orderkey join (shuffle_merge at gate SF). At
    # sf0.001 orders fits the broadcast cap, so every case legitimately
    # plans broadcast — the rule is replayed from data, not pinned to
    # one SF's branch.
    oracle=f"""
    WITH hot AS (SELECT MIN(o_orderkey) AS k FROM orders),
    f_small AS (SELECT CAST(l_quantity AS BIGINT) AS key,
                       l_extendedprice AS payload FROM lineitem),
    f_hot AS (SELECT CASE WHEN l_linenumber <= 2 THEN (SELECT k FROM hot)
                          ELSE l_orderkey END AS key,
                     l_extendedprice AS payload FROM lineitem),
    f_uni AS (SELECT l_orderkey AS key, l_extendedprice AS payload
              FROM lineitem),
    d_small AS (SELECT CAST(range AS BIGINT) AS key,
                       CAST(range * 3 AS BIGINT) AS dim_val
                FROM range(0, 51)),
    d_orders AS (SELECT o_orderkey AS key,
                        CAST(o_orderkey % 97 AS BIGINT) AS dim_val
                 FROM orders)
    SELECT * FROM (
      SELECT 'small_dim' AS which,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM d_small) AS dim_rows,
             (SELECT CAST((100 * MAX(c)) // SUM(c) AS BIGINT)
              FROM (SELECT COUNT(*) AS c FROM f_small GROUP BY key))
               AS max_share_pct,
             CASE WHEN (SELECT COUNT(*) FROM d_small) <= 10000
                  THEN 'broadcast'
                  WHEN (SELECT (100 * MAX(c)) >= 20 * SUM(c)
                        FROM (SELECT COUNT(*) AS c FROM f_small
                              GROUP BY key)) THEN 'aqe_skew'
                  ELSE 'shuffle_merge' END AS strategy,
             (SELECT COUNT(*) FROM d_small) <= 10000 AS broadcast_used,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM f_small f JOIN d_small d USING (key)) AS n_rows,
             (SELECT {sql_exact_sum('f.payload + d.dim_val')}
              FROM f_small f JOIN d_small d USING (key)) AS total
      UNION ALL
      SELECT 'hot_key',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM d_orders),
             (SELECT CAST((100 * MAX(c)) // SUM(c) AS BIGINT)
              FROM (SELECT COUNT(*) AS c FROM f_hot GROUP BY key)),
             CASE WHEN (SELECT COUNT(*) FROM d_orders) <= 10000
                  THEN 'broadcast'
                  WHEN (SELECT (100 * MAX(c)) >= 20 * SUM(c)
                        FROM (SELECT COUNT(*) AS c FROM f_hot
                              GROUP BY key)) THEN 'aqe_skew'
                  ELSE 'shuffle_merge' END,
             (SELECT COUNT(*) FROM d_orders) <= 10000,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM f_hot f JOIN d_orders d USING (key)),
             (SELECT {sql_exact_sum('f.payload + d.dim_val')}
              FROM f_hot f JOIN d_orders d USING (key))
      UNION ALL
      SELECT 'uniform',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM d_orders),
             (SELECT CAST((100 * MAX(c)) // SUM(c) AS BIGINT)
              FROM (SELECT COUNT(*) AS c FROM f_uni GROUP BY key)),
             CASE WHEN (SELECT COUNT(*) FROM d_orders) <= 10000
                  THEN 'broadcast'
                  WHEN (SELECT (100 * MAX(c)) >= 20 * SUM(c)
                        FROM (SELECT COUNT(*) AS c FROM f_uni
                              GROUP BY key)) THEN 'aqe_skew'
                  ELSE 'shuffle_merge' END,
             (SELECT COUNT(*) FROM d_orders) <= 10000,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM f_uni f JOIN d_orders d USING (key)),
             (SELECT {sql_exact_sum('f.payload + d.dim_val')}
              FROM f_uni f JOIN d_orders d USING (key))
    ) ORDER BY which
    """,
    doc="Skew-aware join planning: the fact side's hot-key share (one "
        "keyed count, exact integers) and the dim cardinality pick the "
        "strategy — broadcast when the dim fits (<= 10k rows), AQE "
        "skew handling when one key holds >= 20% of the fact rows, "
        "plain sort-merge otherwise — and the executed plan is checked "
        "for the broadcast node. The thresholds encode the measured "
        "skew-probe ordering (broadcast < AQE skew-split < salted < "
        "plain shuffle on a 30%-hot-key join). Statistic, decision, "
        "plan check and join aggregates all value-replayed.",
    tags=("join", "scale", "plan", "skew"),
)
def q_skew_join_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    hot_key = orders.agg(F.min("o_orderkey")).collect()[0][0]

    facts = {
        "small_dim": li.select(
            F.col("l_quantity").cast("bigint").alias("key"),
            F.col("l_extendedprice").alias("payload"),
        ),
        "hot_key": li.select(
            F.when(F.col("l_linenumber") <= 2, F.lit(hot_key))
            .otherwise(F.col("l_orderkey"))
            .cast("bigint")
            .alias("key"),
            F.col("l_extendedprice").alias("payload"),
        ),
        "uniform": li.select(
            F.col("l_orderkey").alias("key"),
            F.col("l_extendedprice").alias("payload"),
        ),
    }
    d_small = spark.range(0, 51).select(
        F.col("id").alias("key"),
        (F.col("id") * 3).cast("bigint").alias("dim_val"),
    )
    d_orders = orders.select(
        F.col("o_orderkey").alias("key"),
        (F.col("o_orderkey") % 97).cast("bigint").alias("dim_val"),
    )
    dims = {"small_dim": d_small, "hot_key": d_orders, "uniform": d_orders}

    def run(which: str) -> DataFrame:
        fact, dim = facts[which], dims[which]
        dim_rows = dim.count()
        stats = (
            fact.groupBy("key")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.max("c").alias("mx"), F.sum("c").alias("n"))
            .collect()[0]
        )
        max_share_pct = (100 * int(stats["mx"])) // int(stats["n"])
        if dim_rows <= 10_000:
            strategy = "broadcast"
        elif 100 * int(stats["mx"]) >= 20 * int(stats["n"]):
            # AQE's runtime skew split beat explicit salting in the
            # measured probe; salting stays the fallback for plans AQE
            # cannot re-split (operators/scale.py salted_join)
            strategy = "aqe_skew"
        else:
            strategy = "shuffle_merge"
        hinted = (
            dim.hint("broadcast") if strategy == "broadcast"
            else dim.hint("merge")
        )
        agg = fact.join(hinted, "key").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            exact_sum(F.col("payload") + F.col("dim_val")).alias("total"),
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        return agg.select(
            F.lit(which).alias("which"),
            F.lit(dim_rows).cast("bigint").alias("dim_rows"),
            F.lit(max_share_pct).cast("bigint").alias("max_share_pct"),
            F.lit(strategy).alias("strategy"),
            F.lit("BroadcastHashJoin" in plan).alias("broadcast_used"),
            "n_rows",
            "total",
        )

    out = None
    for which in facts:
        part = run(which)
        out = part if out is None else out.unionByName(part)
    return out.orderBy("which")
