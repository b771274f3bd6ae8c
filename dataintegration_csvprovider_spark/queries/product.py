"""Product-analytics queries over the ``events`` fixture: conversion
funnels and retention cohorts.

The staple event-log analyses a warehouse engine must serve. Both are
pure relational plans (sequenced min-aggregations and a cohort
self-aggregation) with full SQL oracles; rates are rational doubles
(count/count), deterministic across engines.

Scale shape: every step keys by user_id — one shuffle establishes the
partitioning and AQE reuses it across the stage joins; the stage tables
(first-view/first-click/first-purchase) shrink monotonically, so each
successive join is smaller. Retention is two aggregations over (user,
week) — the distinct-activity table is the only wide intermediate, and
it is already partial-aggregated map-side.

The reference has no aggregation surface (row pump only,
CSVProvider.cs:563-601); these belong to the engine's native relational
extension (SURVEY.md §2.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import exact_sum, register, sql_exact_sum


@register(
    "q_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS c_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click'
        AND e.ts >= v.v_ts AND e.ts <= v.v_ts + INTERVAL 2 HOUR
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts >= c.c_ts AND e.ts <= c.c_ts + INTERVAL 24 HOUR
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click,
           (SELECT COUNT(*) FROM p) AS n_purchase,
           CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
             / (SELECT COUNT(*) FROM v) AS view_to_click,
           CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
             / (SELECT COUNT(*) FROM c) AS click_to_purchase
    """,
    doc="Three-stage conversion funnel: first view, first click within "
        "2h of that view, first purchase within 24h of that click — "
        "counts per stage and step conversion rates. Stage tables "
        "shrink monotonically and all joins share the user_id "
        "partitioning.",
    tags=("agg", "funnel", "product"),
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") >= F.col("v_ts"))
            & (F.col("ts") <= F.col("v_ts") + F.expr("INTERVAL 2 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") >= F.col("c_ts"))
            & (F.col("ts") <= F.col("c_ts") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    counts = (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase")))
    )
    return counts.select(
        "n_view",
        "n_click",
        "n_purchase",
        (F.col("n_click").cast("double") / F.col("n_view")).alias("view_to_click"),
        (F.col("n_purchase").cast("double") / F.col("n_click")).alias(
            "click_to_purchase"
        ),
    )


@register(
    "q_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
      FROM events
    ), cohort_size AS (
      SELECT cohort_week, COUNT(*) AS n_cohort FROM firsts GROUP BY cohort_week
    )
    SELECT f.cohort_week,
           CAST(datediff('day', f.cohort_week, a.active_week) // 7 AS BIGINT)
             AS week_offset,
           COUNT(*) AS n_active,
           CAST(COUNT(*) AS DOUBLE) / MIN(s.n_cohort) AS retention
    FROM firsts f
    JOIN activity a ON a.user_id = f.user_id
    JOIN cohort_size s ON s.cohort_week = f.cohort_week
    GROUP BY f.cohort_week, datediff('day', f.cohort_week, a.active_week) // 7
    """,
    doc="Weekly retention cohorts: users grouped by first-event week; "
        "for each (cohort, week offset) the count and share of cohort "
        "members active that week. Two shuffles (per-user firsts, "
        "distinct weekly activity) and a broadcast of the tiny cohort "
        "sizes.",
    tags=("agg", "retention", "product"),
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("active_week")
    ).distinct()
    cohort_size = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    offset = (
        F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
    ).cast("bigint")
    return (
        firsts.join(activity, "user_id")
        .join(
            F.broadcast(cohort_size.withColumnRenamed("cohort_week", "cw")),
            F.col("cohort_week") == F.col("cw"),
        )
        .groupBy("cohort_week", offset.alias("week_offset"))
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            (F.count(F.lit(1)).cast("double") / F.min("n_cohort")).alias(
                "retention"
            ),
        )
    )


@register(
    "q_last_touch_attribution",
    oracle="""
    WITH purchases AS (
      SELECT user_id, event_id AS purchase_id, ts AS p_ts, value AS revenue
      FROM events WHERE event_type = 'purchase'
    ), touches AS (
      SELECT p.purchase_id, p.revenue, t.event_type AS channel, t.ts,
             ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                ORDER BY t.ts DESC, t.event_id DESC) AS rn
      FROM purchases p
      JOIN events t
        ON t.user_id = p.user_id
       AND t.event_type IN ('view', 'click')
       AND t.ts <= p.p_ts AND t.ts >= p.p_ts - INTERVAL 24 HOUR
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           {d} AS attributed_revenue
    FROM touches WHERE rn = 1
    GROUP BY channel
    """.format(d=sql_exact_sum("revenue")),
    doc="Last-touch attribution: each purchase credits its revenue to "
        "the user's most recent view/click in the prior 24h (ties on "
        "event_id). A bounded interval join on the user key feeds one "
        "per-purchase window — the credit-assignment companion to "
        "q_funnel's stage counting; revenue sums through the decimal "
        "accumulator.",
    tags=("agg", "product", "attribution", "join"),
)
def q_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    # both legs derive from the same events scan: alias the join key on
    # one side and join on the RENAMED column, so Spark never sees a
    # same-lineage `.col == .col` predicate (which warns "trivially true"
    # and can degrade to a cross join under refactoring — same fix as
    # q_label_centroid_similarity)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("revenue"),
    )
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_type").alias("channel"),
        "ts",
        "event_id",
    )
    joined = purchases.join(
        touches,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("ts") <= F.col("p_ts"))
        & (F.col("ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    last = joined.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return last.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        exact_sum(F.col("revenue")).alias("attributed_revenue"),
    )


@register(
    "q_position_attribution",
    oracle="""
    WITH purchases AS (
      SELECT user_id, event_id AS purchase_id, ts AS p_ts, value AS revenue
      FROM events WHERE event_type = 'purchase'
    ), touches AS (
      SELECT p.purchase_id, p.revenue, t.event_type AS channel,
             ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                ORDER BY t.ts, t.event_id) AS rn,
             COUNT(*) OVER (PARTITION BY p.purchase_id) AS n
      FROM purchases p
      JOIN events t
        ON t.user_id = p.user_id
       AND t.event_type IN ('view', 'click')
       AND t.ts <= p.p_ts AND t.ts >= p.p_ts - INTERVAL 24 HOUR
    ), credited AS (
      SELECT channel, purchase_id,
             revenue * (CASE
               WHEN n = 1 THEN 1.0
               WHEN n = 2 THEN 0.5
               WHEN rn = 1 OR rn = n THEN 0.4
               ELSE 0.2 / (CAST(n AS DOUBLE) - 2.0)
             END) AS credit
      FROM touches
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
           round({d}, 6)
             AS attributed_revenue
    FROM credited GROUP BY channel
    """.format(d=sql_exact_sum("credit", scale=12)),
    doc="Position-based (U-shaped 40/20/40) multi-touch attribution — "
        "the standard middle ground between last-touch (q_last_touch_"
        "attribution) and linear credit: within each purchase's 24h "
        "touch window the FIRST and LAST touch take 40% each and the "
        "middles split the remaining 20% evenly (1 touch: 100%, 2 "
        "touches: 50/50). Credit weights are rational doubles with "
        "identical expression trees on both engines; per-channel "
        "revenue folds through DECIMAL(28,12) (order-independent) and "
        "reports at 6 decimals. Same bounded interval join on the "
        "renamed user key as last-touch (the r6 self-join-lint idiom) "
        "feeding one per-purchase window.",
    tags=("agg", "product", "attribution", "join"),
)
def q_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("revenue"),
    )
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_type").alias("channel"),
        "ts",
        "event_id",
    )
    joined = purchases.join(
        touches,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("ts") <= F.col("p_ts"))
        & (F.col("ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
    )
    w = Window.partitionBy("purchase_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("purchase_id")
    ranked = joined.select(
        "channel",
        "purchase_id",
        "revenue",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    weight = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n").cast("double") - F.lit(2.0)))
    )
    credited = ranked.select(
        "channel",
        "purchase_id",
        (F.col("revenue") * weight).alias("credit"),
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.count_distinct("purchase_id").cast("bigint").alias("n_purchases"),
        F.round(exact_sum(F.col("credit"), scale=12), 6).alias("attributed_revenue"),
    )
