"""Extended relational surface: subqueries, percentiles, date/string
function coverage, grouping sets, as-of join, batch sessionization,
events-table analytics. Continues SURVEY.md §2.7 + §2.10.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.asof import asof_join
from ..operators.sessions import session_stats
from .registry import exact_sum, register, sql_exact_sum


@register(
    "q_subquery_scalar",
    oracle=f"""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (
      SELECT {sql_exact_sum('o_totalprice', mean=True)}
      FROM orders)
    """,
    doc="Scalar subquery: orders above the mean price (micros-form mean "
        "— see exact_sum — so both engines compare against identical bits at "
        "ANY scale factor, the order-count sum crossing 2^33 included).",
    tags=("subquery",),
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    thr = orders.agg(exact_sum(F.col("o_totalprice"), mean=True).alias("thr"))
    return (
        orders.crossJoin(F.broadcast(thr))
        .filter(F.col("o_totalprice") > F.col("thr"))
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "q_subquery_in",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 49)
    """,
    doc="IN-subquery (compiles to left-semi join).",
    tags=("subquery",),
)
def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 49)
    return part.join(
        li.select("l_partkey"), part.p_partkey == li.l_partkey, "left_semi"
    ).select("p_partkey", "p_name", "p_retailprice")


@register(
    "q_correlated_exists",
    oracle="""
    SELECT c.c_custkey, c.c_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT'
                    AND o.o_totalprice > c.c_acctbal)
    """,
    doc="Correlated EXISTS with a cross-table predicate (not just the key).",
    tags=("subquery",),
)
def q_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    cond = (orders.o_custkey == cust.c_custkey) & (
        orders.o_totalprice > cust.c_acctbal
    )
    return cust.join(orders, cond, "left_semi").select("c_custkey", "c_acctbal")


@register(
    "q_percentiles",
    oracle="""
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.25) AS p25,
           median(o_totalprice) AS p50,
           quantile_cont(o_totalprice, 0.75) AS p75,
           CAST(STDDEV_POP(o_totalprice) IS NOT NULL AS INT) AS has_spread
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="Exact interpolated percentiles + median per group (parity "
        "verified: Spark percentile == DuckDB quantile_cont bits).",
    tags=("agg", "percentile"),
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", 0.25).alias("p25"),
        F.median("o_totalprice").alias("p50"),
        F.percentile("o_totalprice", 0.75).alias("p75"),
        F.stddev_pop("o_totalprice").isNotNull().cast("int").alias("has_spread"),
    )


@register(
    "q_approx_percentile",
    # the t-digest-style sketch value is engine-specific, but its rank
    # error is bounded: with accuracy 10000 the estimate must land within
    # the exact p40..p60 band around the median — the oracle pins the
    # bound, so a sketch regression fails the hash gate (same pattern as
    # q_approx_distinct / q_hll_sketch). At 100 TB approx_percentile is
    # the right tool: one pass, mergeable partials, no global sort.
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS approx_in_band
    FROM orders GROUP BY o_orderstatus
    """,
    doc="approx_percentile(median, accuracy=10000) checked inside the "
        "query against the exact p40..p60 band; the oracle pins the "
        "bound.",
    tags=("agg", "percentile", "approx"),
)
def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    approx = F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(10000))
    lo = F.percentile("o_totalprice", 0.40)
    hi = F.percentile("o_totalprice", 0.60)
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        ((approx >= lo) & (approx <= hi)).alias("approx_in_band"),
    )


@register(
    "q_date_functions",
    oracle="""
    SELECT event_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
           CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start,
           CAST(isodow(ts) - 1 AS INT) AS weekday_monday0,
           CAST(dayofyear(ts) AS INT) AS doy,
           CAST(date_diff('day', TIMESTAMP '2024-01-01 00:00:00', ts) AS INT)
             AS days_since_jan1,
           CAST(extract(hour FROM ts) AS INT) AS hour_of_day
    FROM events
    WHERE event_id < 1000
    """,
    doc="Datetime function coverage over the events stream table.",
    tags=("scalar", "date"),
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    return events.select(
        "event_id",
        F.date_trunc("day", "ts").alias("day_start"),
        F.date_trunc("week", "ts").alias("week_start"),
        F.weekday("ts").cast("int").alias("weekday_monday0"),
        F.dayofyear("ts").cast("int").alias("doy"),
        F.date_diff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("int")
        .alias("days_since_jan1"),
        F.hour("ts").cast("int").alias("hour_of_day"),
    )


@register(
    "q_string_functions",
    oracle="""
    SELECT p_partkey,
           lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS padded,
           translate(p_brand, '#', '-') AS brand_dashed,
           regexp_extract(p_type, '([a-z]+)', 1) AS first_word,
           string_split(p_type, ' ')[1] AS type_head,
           reverse(p_brand) AS brand_rev,
           repeat('*', p_size % 5) AS stars,
           CAST(strpos(p_name, 'a') AS INT) AS first_a
    FROM part
    WHERE p_partkey <= 500
    """,
    doc="String function coverage: pad/translate/regexp/split/reverse/"
        "repeat/locate.",
    tags=("scalar", "string"),
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    return part.select(
        "p_partkey",
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("padded"),
        F.translate("p_brand", "#", "-").alias("brand_dashed"),
        F.regexp_extract("p_type", "([a-z]+)", 1).alias("first_word"),
        F.split("p_type", " ").getItem(0).alias("type_head"),
        F.reverse("p_brand").alias("brand_rev"),
        F.repeat(F.lit("*"), F.col("p_size") % 5).alias("stars"),
        F.locate("a", F.col("p_name")).cast("int").alias("first_a"),
    )


@register(
    "q_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
           COUNT(*) AS n, {sql_exact_sum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="Explicit GROUPING SETS (beyond rollup/cube) via the SQL surface.",
    tags=("agg", "groupingsets"),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    # this SQL text runs through SPARK; sql_exact_sum's DECIMAL(38,0)
    # spelling is dialect-neutral (Spark has no HUGEINT keyword)
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
               CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
               COUNT(*) AS n,
               {sql_exact_sum('l_quantity')} AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "q_unpivot",
    oracle="""
    SELECT c_custkey, metric, val FROM (
      SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val FROM customer
      UNION ALL
      SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer)
    WHERE c_custkey <= 300
    """,
    doc="Unpivot (stack) wide columns into (metric, value) rows.",
    tags=("reshape",),
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 300)
    return cust.selectExpr(
        "c_custkey",
        "stack(2, 'acctbal', c_acctbal, 'nationkey', CAST(c_nationkey AS DOUBLE)) "
        "AS (metric, val)",
    )


@register(
    "q_asof_join",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           a.ts AS click_ts, a.value AS click_value
    FROM events e
    LEFT JOIN LATERAL (
      SELECT c.ts, c.value FROM events c
      WHERE c.user_id = e.user_id AND c.event_type = 'click' AND c.ts <= e.ts
      ORDER BY c.ts DESC LIMIT 1) a ON true
    WHERE e.event_id < 2000
    """,
    doc="Backward as-of join (union-sort-window plan, one shuffle): each "
        "event matched to the user's latest click at-or-before it. Oracle "
        "uses an independent algorithm (correlated LATERAL top-1).",
    tags=("join", "asof"),
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    left = events.filter(F.col("event_id") < 2000).select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        left, clicks, on="user_id", left_ts="ts", right_ts="ts",
        right_payload=["value"],
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("asof_ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )


@register(
    "q_sessionize_batch",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) - 1 AS sid
      FROM flagged)
    SELECT user_id, CAST(sid AS BIGINT) AS session_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           {sum_v} AS total
    FROM sessions GROUP BY user_id, sid
    """.format(sum_v=sql_exact_sum("value")),
    doc="Batch sessionization (gaps-and-islands windows) matching the "
        "streaming session_window contract.",
    tags=("window", "session"),
)
def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return session_stats(events, gap="30 minutes").select(
        "user_id",
        F.col("session_id").cast("bigint").alias("session_id"),
        "session_start",
        "session_end",
        "n_events",
        "total",
    )


@register(
    "q_events_hourly",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
           event_type,
           COUNT(*) AS n,
           {sum_v} AS total,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """.format(sum_v=sql_exact_sum("value")),
    doc="Event-stream rollup: hourly counts/sums/actives per type (batch "
        "twin of the streaming tumbling agg).",
    tags=("agg", "events"),
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum(F.col("value")).alias("total"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "q_asof_forward_tolerance",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           a.ts AS purchase_ts, a.value AS purchase_value
    FROM events e
    LEFT JOIN LATERAL (
      SELECT p.ts, p.value FROM events p
      WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
        AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 1 HOUR
      ORDER BY p.ts ASC LIMIT 1) a ON true
    WHERE e.event_type = 'view' AND e.event_id < 3000
    """,
    doc="Forward as-of join with tolerance: each view matched to the "
        "user's EARLIEST purchase at-or-after it, but only within 1 "
        "hour — the attribution-window variant (pandas merge_asof "
        "direction='forward', tolerance). Same union-sort-window plan "
        "as backward (one shuffle); the tolerance is a post-match "
        "predicate that nulls the payload, preserving left-outer "
        "row counts. Oracle recomputes via correlated LATERAL top-1.",
    tags=("join", "asof", "timeseries"),
)
def q_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    left = events.filter(
        (F.col("event_type") == "view") & (F.col("event_id") < 3000)
    ).select("event_id", "user_id", "ts")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        left,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["value"],
        direction="forward",
        tolerance="1 HOUR",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )


@register(
    "q_asof_nearest",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, MAX(value) AS value
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id, e.ts,
           a.ts AS click_ts, a.value AS click_value
    FROM events e
    LEFT JOIN LATERAL (
      SELECT c.ts, c.value FROM clicks c
      WHERE c.user_id = e.user_id
      ORDER BY ABS(date_diff('microsecond', e.ts, c.ts)),
               CASE WHEN c.ts <= e.ts THEN 0 ELSE 1 END
      LIMIT 1) a ON true
    WHERE e.event_id < 2000
    """,
    doc="NEAREST as-of join (operators/asof.py, direction='nearest'): "
        "each event matched to the user's closest click in absolute "
        "time, equal distances preferring the backward match (the "
        "pandas merge_asof convention). Plan: both directional carries "
        "come from two windows over ONE keyed shuffle; the right side "
        "is deduped per (key, ts) so the choice is deterministic. "
        "Oracle: independent correlated LATERAL ordered by |Δt| with "
        "the same tie-break.",
    tags=("join", "asof"),
)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    left = events.filter(F.col("event_id") < 2000).select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    out = asof_join(
        left, clicks, on="user_id", left_ts="ts", right_ts="ts",
        right_payload=["value"], direction="nearest",
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("asof_ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
