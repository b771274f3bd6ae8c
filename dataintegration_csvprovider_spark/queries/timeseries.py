"""Time-series surface: regular-grid gap filling with
last-observation-carried-forward (LOCF).

Sensor/event feeds are sparse on the hour grid; downstream features
want one row per (series, bucket). The plan: per-series bucket sums →
per-series hour spine (``sequence`` + ``explode``, generated
distributed, never on the driver) → left join → LOCF via
``last(ignorenulls)`` over an unbounded-preceding row frame. One
shuffle keys everything by series, and the window reuses that
partitioning; at 100 TB the spine explode is embarrassingly parallel
and the state per series is one running value.

The reference has no time-series surface (batch row pump only,
CSVProvider.cs:563-601); this extends the engine's events coverage
alongside sessionization and the streaming windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import exact_sum, register, sql_exact_sum


@register(
    "q_gap_fill_locf",
    oracle=f"""
    WITH buckets AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket_hour,
             {sql_exact_sum('value')} AS v
      FROM events
      WHERE user_id < 10
      GROUP BY user_id, date_trunc('hour', ts)
    ),
    spine AS (
      SELECT user_id,
             unnest(generate_series(hmin, hmax, INTERVAL 1 HOUR)) AS bucket_hour
      FROM (SELECT user_id, MIN(bucket_hour) AS hmin, MAX(bucket_hour) AS hmax
            FROM buckets GROUP BY user_id)
    )
    SELECT s.user_id, s.bucket_hour,
           last_value(b.v IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.bucket_hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value,
           b.v IS NULL AS was_gap
    FROM spine s
    LEFT JOIN buckets b
      ON b.user_id = s.user_id AND b.bucket_hour = s.bucket_hour
    """,
    doc="Hourly per-user grid over the events feed: missing buckets are "
        "materialized from a distributed sequence() spine and filled "
        "with the last observed hourly sum (LOCF); was_gap marks "
        "synthesized rows. Leading gaps before a series' first "
        "observation cannot occur (the spine starts at each series' "
        "own min bucket).",
    tags=("timeseries", "window", "join"),
)
def q_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    buckets = (
        ev.withColumn("bucket_hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("user_id", "bucket_hour")
        .agg(exact_sum(F.col("value")).alias("v"))
    )
    spine = (
        buckets.groupBy("user_id")
        .agg(
            F.min("bucket_hour").alias("hmin"),
            F.max("bucket_hour").alias("hmax"),
        )
        .select(
            "user_id",
            F.explode(
                F.sequence("hmin", "hmax", F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket_hour"),
        )
    )
    joined = spine.join(buckets, ["user_id", "bucket_hour"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket_hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "bucket_hour",
        F.last("v", ignorenulls=True).over(w).alias("filled_value"),
        F.col("v").isNull().alias("was_gap"),
    )


_HOURLY_SQL = """
    hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket_hour,
             {sum_v} AS x
      FROM events WHERE user_id < 10
      GROUP BY user_id, date_trunc('hour', ts)
    ), numbered AS (
      SELECT user_id, bucket_hour, x,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY bucket_hour) AS i
      FROM hourly
    )
""".format(sum_v=sql_exact_sum("value"))


@register(
    "q_ewma",
    # round 9: the weights ride as exact INTEGERS 2^(23-lag) instead of
    # 2^-lag doubles — multiplying num and denom by 2^23 leaves the
    # ratio identical while making every accumulator term an exact
    # decimal (6-decimal x times an integer), so no term ever meets the
    # decimal cast's rounding midpoint. The earlier x*2^-lag form is
    # the registry's documented dyadic class: one term landed on the
    # 6-decimal midpoint at sf0.1 (Spark half-up vs DuckDB half-even).
    oracle=f"""
    WITH {_HOURLY_SQL}
    SELECT a.user_id, a.bucket_hour, a.x,
           -- decimal-sum-ok: fixed 24-lag frame of bounded hourly sums
           -- times exact integer weights; |sum| < 2^23 * 24 * max(x),
           -- structurally below the 2^33 double-rounding threshold
           -- relative to its 2^23-scaled quantum (num/denom ratio is
           -- what is reported)
           CAST(SUM(CAST(b.x AS DECIMAL(19,6))
                    * CAST((CAST(1 AS BIGINT)
                            << CAST(23 - (a.i - b.i) AS INT))
                           AS DECIMAL(19,0))) AS DOUBLE)
           / CAST(SUM(CAST((CAST(1 AS BIGINT)
                            << CAST(23 - (a.i - b.i) AS INT))
                           AS DECIMAL(19,0))) AS DOUBLE) AS ewma
    FROM numbered a JOIN numbered b
      ON a.user_id = b.user_id AND b.i BETWEEN a.i - 23 AND a.i
    GROUP BY a.user_id, a.bucket_hour, a.x
    """,
    doc="Normalized truncated EWMA (alpha=0.5, 24-lag horizon) over "
        "per-user hourly sums. alpha=0.5 makes every weight an exact "
        "binary power; the weights enter the decimal accumulators as "
        "exact integers 2^(23-lag) (num and denom scaled by 2^23 — "
        "ratio unchanged, every term exact), so the result is the "
        "exact rational in both engines with only the final division "
        "in IEEE. The bounded-lag self-join replaces the sequential "
        "recurrence (unbounded state) with a shuffle-partitionable "
        "join, the streaming-friendly formulation.",
    tags=("timeseries", "window"),
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    hourly = (
        ev.withColumn("bucket_hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("user_id", "bucket_hour")
        .agg(exact_sum(F.col("value")).alias("x"))
    )
    w = Window.partitionBy("user_id").orderBy("bucket_hour")
    numbered = hourly.withColumn("i", F.row_number().over(w))
    a, b = numbered.alias("a"), numbered.alias("b")
    # exact integer weight 2^(23-lag): SQL-form shiftleft accepts a
    # column shift amount (the Python API requires a literal)
    # decimal-sum-ok: fixed 24-lag frame, exact integer weights (see
    # the oracle note)
    num = F.expr(
        "cast(sum(cast(b.x as decimal(19,6)) * "
        "cast(shiftleft(1L, cast(23 - (a.i - b.i) as int)) "
        "as decimal(19,0))) as double)"
    )
    den = F.expr(
        "cast(sum(cast(shiftleft(1L, cast(23 - (a.i - b.i) as int)) "
        "as decimal(19,0))) as double)"
    )
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.i") >= F.col("a.i") - 23)
            & (F.col("b.i") <= F.col("a.i")),
        )
        .groupBy(
            F.col("a.user_id").alias("user_id"),
            F.col("a.bucket_hour").alias("bucket_hour"),
            F.col("a.x").alias("x"),
        )
        .agg((num / den).alias("ewma"))
    )


@register(
    "q_anomaly_zscore",
    oracle=f"""
    WITH {_HOURLY_SQL}
    , stats AS (
      SELECT user_id, bucket_hour, x,
             COUNT(x) OVER w AS n,
             {sql_exact_sum("x", over="OVER w")} AS s,
             {sql_exact_sum("x * x", over="OVER w")} AS s2
      FROM numbered
      WINDOW w AS (PARTITION BY user_id ORDER BY i
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, bucket_hour, x,
           (x - s / n) / sqrt(greatest(s2 / n - (s / n) * (s / n), 1e-12)) AS z
    FROM stats
    WHERE n >= 8
      AND abs((x - s / n) / sqrt(greatest(s2 / n - (s / n) * (s / n), 1e-12))) > 2
    """,
    doc="Rolling z-score anomaly flags over per-user hourly sums: mean "
        "and variance from decimal-accumulated sum and sum-of-squares "
        "over the trailing 24 buckets (current row excluded, >= 8 "
        "samples required); |z| > 2 flags. sqrt is IEEE correctly "
        "rounded, so the z values agree bit-exactly across engines; the "
        "1e-12 variance floor keeps a constant window from dividing by "
        "a negative fp epsilon.",
    tags=("timeseries", "window", "anomaly"),
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    hourly = (
        ev.withColumn("bucket_hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("user_id", "bucket_hour")
        .agg(exact_sum(F.col("value")).alias("x"))
    )
    wo = Window.partitionBy("user_id").orderBy("bucket_hour")
    numbered = hourly.withColumn("i", F.row_number().over(wo))
    w = (
        Window.partitionBy("user_id")
        .orderBy("i")
        .rowsBetween(-24, -1)
    )
    stats = numbered.select(
        "user_id",
        "bucket_hour",
        "x",
        F.count("x").over(w).alias("n"),
        exact_sum(F.col("x"), over=w).alias("s"),
        exact_sum(F.col("x") * F.col("x"), over=w).alias("s2"),
    )
    mean = F.col("s") / F.col("n")
    var = F.greatest(
        F.col("s2") / F.col("n") - mean * mean, F.lit(1e-12)
    )
    z = (F.col("x") - mean) / F.sqrt(var)
    return (
        stats.filter(F.col("n") >= 8)
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > 2)
        .select("user_id", "bucket_hour", "x", "z")
    )


@register(
    "q_rolling_corr",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             {x} AS x,
             {y} AS y
      FROM events GROUP BY date_trunc('hour', ts)
    ), filled AS (
      SELECT h, COALESCE(x, 0.0) AS x, COALESCE(y, 0.0) AS y FROM hourly
    ), stats AS (
      SELECT h, x, y,
             COUNT(*) OVER w AS n,
             {sx} AS sx,
             {sy} AS sy,
             {sxy} AS sxy,
             {sxx} AS sxx,
             {syy} AS syy
      FROM filled
      WINDOW w AS (ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT h, n,
           (n * sxy - sx * sy)
             / (sqrt(greatest(n * sxx - sx * sx, 1e-12))
                * sqrt(greatest(n * syy - sy * sy, 1e-12))) AS corr_24h
    FROM stats WHERE n >= 24
    """.format(
        x=sql_exact_sum("CASE WHEN event_type = 'view' THEN value END"),
        y=sql_exact_sum("CASE WHEN event_type = 'click' THEN value END"),
        sx=sql_exact_sum("x", over="OVER w"),
        sy=sql_exact_sum("y", over="OVER w"),
        sxy=sql_exact_sum("x * y", over="OVER w"),
        sxx=sql_exact_sum("x * x", over="OVER w"),
        syy=sql_exact_sum("y * y", over="OVER w"),
    ),
    doc="Trailing-24h rolling Pearson correlation between the hourly "
        "view-value and click-value series: all five moments come from "
        "decimal-accumulated window sums (order-independent), the "
        "final expression is rational + sqrt (both IEEE-exact), so the "
        "correlation stream matches the oracle bit-for-bit. The "
        "trailing window runs BLOCK-PARTITIONED: rows get a dense "
        "global index from the distributed prefix sum, blocks of 256 "
        "rows each carry a copy of the previous block's last 23 rows, "
        "and the 24-row frame runs per-block in parallel — no "
        "single-task global window even when the hourly series spans "
        "decades (verdict r5 item 6).",
    tags=("timeseries", "window", "corr"),
)
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scale import distributed_cumsum

    ev = load_table(spark, sf_dir, "events")
    dec = "decimal(18,6)"
    hourly = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(
            exact_sum(
                F.when(F.col("event_type") == "view", F.col("value"))
            ).alias("x"),
            exact_sum(
                F.when(F.col("event_type") == "click", F.col("value"))
            ).alias("y"),
        )
        .select(
            "h",
            F.coalesce("x", F.lit(0.0)).alias("x"),
            F.coalesce("y", F.lit(0.0)).alias("y"),
        )
    )
    # dense 1-based global row index in h order, no single-task window
    B = 256  # block size; each block's task sees B + 23 rows
    indexed = distributed_cumsum(
        hourly.withColumn("__one", F.lit(1)), "h", "__one", "__i"
    ).drop("__one")
    blk = F.expr(f"CAST((__i - 1) DIV {B} AS BIGINT)")
    native = indexed.select("*", blk.alias("__blk"), F.lit(False).alias("__carry"))
    # last 23 rows of each block are REPLAYED into the next block so its
    # earliest native rows still see their full 24-row trailing frame
    carry = indexed.filter((F.col("__i") - 1) % B >= B - 23).select(
        "*", (blk + 1).alias("__blk"), F.lit(True).alias("__carry")
    )
    w = Window.partitionBy("__blk").orderBy("__i").rowsBetween(-23, 0)
    stats = native.unionByName(carry).select(
        "h",
        "x",
        "y",
        "__carry",
        F.count(F.lit(1)).over(w).alias("n"),
        exact_sum(F.col("x"), over=w).alias("sx"),
        exact_sum(F.col("y"), over=w).alias("sy"),
        exact_sum(F.col("x") * F.col("y"), over=w).alias("sxy"),
        exact_sum(F.col("x") * F.col("x"), over=w).alias("sxx"),
        exact_sum(F.col("y") * F.col("y"), over=w).alias("syy"),
    ).filter(~F.col("__carry"))
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(
            F.greatest(
                F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
                F.lit(1e-12),
            )
        )
        * F.sqrt(
            F.greatest(
                F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"),
                F.lit(1e-12),
            )
        )
    )
    return (
        stats.filter(F.col("n") >= 24)
        .select("h", "n", corr.alias("corr_24h"))
    )


@register(
    "q_rolling_median",
    oracle=f"""
    WITH {_HOURLY_SQL}
    SELECT a.user_id, a.bucket_hour, a.x,
           median(b.x) AS med_24h,
           COUNT(*) AS n_window
    FROM numbered a JOIN numbered b
      ON a.user_id = b.user_id AND b.i BETWEEN a.i - 23 AND a.i
    GROUP BY a.user_id, a.bucket_hour, a.x
    HAVING COUNT(*) >= 12
    """,
    doc="Exact rolling median over the trailing 24 hourly buckets "
        "(>= 12 samples): the robust central-tendency companion to "
        "q_ewma, on the same bounded-lag self-join — an order "
        "statistic has no incremental window form, so the join "
        "materializes each bounded window and percentile() reduces it "
        "(shuffle-partitionable; window size caps the blow-up at 24x). "
        "Spark's interpolated percentile(0.5) equals DuckDB's median "
        "bit-for-bit (parity pinned by q_percentiles).",
    tags=("timeseries", "window", "percentile"),
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    hourly = (
        ev.withColumn("bucket_hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("user_id", "bucket_hour")
        .agg(exact_sum(F.col("value")).alias("x"))
    )
    w = Window.partitionBy("user_id").orderBy("bucket_hour")
    numbered = hourly.withColumn("i", F.row_number().over(w))
    a, b = numbered.alias("a"), numbered.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.i") >= F.col("a.i") - 23)
            & (F.col("b.i") <= F.col("a.i")),
        )
        .groupBy(
            F.col("a.user_id").alias("user_id"),
            F.col("a.bucket_hour").alias("bucket_hour"),
            F.col("a.x").alias("x"),
        )
        .agg(
            F.percentile(F.col("b.x"), 0.5).alias("med_24h"),
            F.count(F.lit(1)).alias("n_window"),
        )
        .filter(F.col("n_window") >= 12)
    )


@register(
    "q_gap_fill_interp",
    oracle=f"""
    WITH buckets AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket_hour,
             {sql_exact_sum('value')} AS v
      FROM events
      WHERE user_id < 10
      GROUP BY user_id, date_trunc('hour', ts)
    ),
    spine AS (
      SELECT user_id,
             unnest(generate_series(hmin, hmax, INTERVAL 1 HOUR)) AS bucket_hour
      FROM (SELECT user_id, MIN(bucket_hour) AS hmin, MAX(bucket_hour) AS hmax
            FROM buckets GROUP BY user_id)
    ),
    joined AS (
      SELECT s.user_id, s.bucket_hour, b.v
      FROM spine s LEFT JOIN buckets b
        ON b.user_id = s.user_id AND b.bucket_hour = s.bucket_hour
    ),
    edges AS (
      SELECT user_id, bucket_hour, v,
        last_value(v IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY bucket_hour
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN bucket_hour END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY bucket_hour
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        first_value(v IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY bucket_hour
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN bucket_hour END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY bucket_hour
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      FROM joined
    )
    SELECT user_id, bucket_hour,
           CASE WHEN v IS NOT NULL THEN v
                ELSE pv + (nv - pv) *
                     ((CAST(epoch(bucket_hour) AS DOUBLE) -
                       CAST(epoch(ph) AS DOUBLE)) /
                      (CAST(epoch(nh) AS DOUBLE) -
                       CAST(epoch(ph) AS DOUBLE)))
           END AS filled_value,
           v IS NULL AS was_gap
    FROM edges
    """,
    doc="Hourly per-user grid with LINEAR interpolation across gaps: "
        "each missing bucket gets the time-weighted blend of the "
        "nearest observed values on either side (LOCF's step function "
        "is wrong for rates/levels that drift). Same distributed "
        "sequence() spine as q_gap_fill_locf; the neighbor values and "
        "timestamps come from four ignore-nulls running-edge windows, "
        "all partitioned by user — no self-join, no single-partition "
        "window. Leading/trailing gaps cannot occur (the spine spans "
        "each series' own observed range), so the blend is total. The "
        "interpolation expression is parenthesized identically in both "
        "engines: IEEE-exact, hash-stable.",
    tags=("timeseries", "window", "join"),
)
def q_gap_fill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    buckets = (
        ev.withColumn("bucket_hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("user_id", "bucket_hour")
        .agg(exact_sum(F.col("value")).alias("v"))
    )
    spine = (
        buckets.groupBy("user_id")
        .agg(
            F.min("bucket_hour").alias("hmin"),
            F.max("bucket_hour").alias("hmax"),
        )
        .select(
            "user_id",
            F.explode(
                F.sequence("hmin", "hmax", F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket_hour"),
        )
    )
    joined = spine.join(buckets, ["user_id", "bucket_hour"], "left")
    back = (
        Window.partitionBy("user_id")
        .orderBy("bucket_hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("bucket_hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hour = F.when(F.col("v").isNotNull(), F.col("bucket_hour"))
    edges = joined.select(
        "user_id",
        "bucket_hour",
        "v",
        F.last("v", ignorenulls=True).over(back).alias("pv"),
        F.last(obs_hour, ignorenulls=True).over(back).alias("ph"),
        F.first("v", ignorenulls=True).over(fwd).alias("nv"),
        F.first(obs_hour, ignorenulls=True).over(fwd).alias("nh"),
    )
    frac = (
        F.unix_timestamp("bucket_hour").cast("double")
        - F.unix_timestamp("ph").cast("double")
    ) / (
        F.unix_timestamp("nh").cast("double")
        - F.unix_timestamp("ph").cast("double")
    )
    filled = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.col("pv") + (F.col("nv") - F.col("pv")) * frac
    )
    return edges.select(
        "user_id",
        "bucket_hour",
        filled.alias("filled_value"),
        F.col("v").isNull().alias("was_gap"),
    )


@register(
    "q_time_decay_agg",
    oracle="""
    WITH bounds AS (
      SELECT CAST(MAX(CAST(ts AS DATE)) AS DATE) AS dmax FROM events
    ), w AS (
      SELECT e.event_type, e.value,
             date_diff('day', CAST(e.ts AS DATE), b.dmax) AS age
      FROM events e, bounds b
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           -- decimal-sum-ok: documented dyadic-midpoint class — v*2^-k
           -- terms land EXACTLY on the decimal-cast midpoint, so the
           -- micros form would carry the same per-row half-up vs
           -- half-even split; the 6-decimal reporting convention
           -- absorbs it (registry module docstring)
           ROUND(CAST(SUM(CAST(value * power(0.5, LEAST(age, 60))
                         AS DECIMAL(28,12))) AS DOUBLE), 6) AS decayed_sum
    FROM w GROUP BY event_type
    """,
    doc="Recency-weighted (exponentially time-decayed) aggregation: per "
        "event type, sum(value * 0.5^age_days) with the age capped at "
        "60 — the engagement/freshness score every feature store keeps. "
        "Engine-exact: 0.5^k for integer k is an exact binary power "
        "(the q_ewma trick), each weighted term is one exact IEEE "
        "product, and the sum runs through decimal(28,12). The sum "
        "reports at 6-decimal precision: v*2^-k is a dyadic rational "
        "whose terminating decimal expansion ends in 5, so deep terms "
        "land EXACTLY on the decimal-cast midpoint where Spark "
        "(half-up) and DuckDB (half-even) legitimately differ by one "
        "ulp of the accumulator — the tfidf reporting-precision "
        "convention absorbs it. One scan + one broadcast max-date + "
        "one keyed aggregate.",
    tags=("timeseries", "agg", "mlprep"),
)
def q_time_decay_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.max(F.col("ts").cast("date")).alias("dmax"))
    w = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        "value",
        F.datediff(F.col("dmax"), F.col("ts").cast("date")).alias("age"),
    )
    dec = "decimal(28,12)"
    # decimal-sum-ok: documented dyadic-midpoint class (see the oracle
    # note) — the 6-decimal reporting convention absorbs the per-row
    # half-up vs half-even cast split the micros form would inherit
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum(
                (
                    F.col("value")
                    * F.pow(F.lit(0.5), F.least(F.col("age"), F.lit(60)))
                ).cast(dec)
            ).cast("double"),
            6,
        ).alias("decayed_sum"),
    )


@register(
    "q_seasonal_anomaly",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY date_trunc('hour', ts)
    ), cells AS (
      SELECT h, cnt,
             CAST(isodow(h) - 1 AS INT) AS dow,
             CAST(hour(h) AS INT) AS hod
      FROM hourly
    ), base AS (
      SELECT dow, hod,
             CAST(COUNT(*) AS BIGINT) AS n_obs,
             CAST(SUM(cnt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu,
             CAST(SUM(cnt * cnt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               - (CAST(SUM(cnt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                 * (CAST(SUM(cnt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
               AS vr
      FROM cells GROUP BY dow, hod
    )
    SELECT c.h, c.cnt, b.n_obs,
           round(b.mu, 9) AS baseline,
           round((CAST(c.cnt AS DOUBLE) - b.mu)
                 / sqrt(b.vr + 0.000000001), 9) AS z
    FROM cells c JOIN base b USING (dow, hod)
    WHERE abs((CAST(c.cnt AS DOUBLE) - b.mu)
              / sqrt(b.vr + 0.000000001)) >= 2.0
    """,
    doc="Seasonal-baseline anomaly detection on the hourly event-count "
        "series: the baseline for each hour is the mean count of the "
        "SAME (weekday, hour-of-day) cell across the whole span — the "
        "weekly-seasonality model an on-call dashboard runs, catching "
        "hours that are normal in absolute terms but anomalous for a "
        "Tuesday 3am (complements q_anomaly_zscore's trailing window, "
        "which a weekly pattern fools). Both baseline moments are "
        "INTEGER sums divided once (exact doubles), z is one subtract/"
        "sqrt/divide with identical trees — engine-exact at 9 "
        "decimals; variance gets a 1e-9 floor so constant cells yield "
        "z=0, not NaN. Flags |z| >= 2. Scale: one hourly pre-agg, one "
        "168-row baseline aggregate broadcast back — the wide data "
        "never moves twice. ISO weekday (0=Mon) on both engines.",
    tags=("timeseries", "anomaly", "seasonal"),
)
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    cells = hourly.select(
        "h",
        "cnt",
        F.weekday("h").cast("int").alias("dow"),
        F.hour("h").cast("int").alias("hod"),
    )
    mu = F.sum("cnt").cast("double") / F.count(F.lit(1)).cast("double")
    base = cells.groupBy("dow", "hod").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        mu.alias("mu"),
        (
            F.sum(F.col("cnt") * F.col("cnt")).cast("double")
            / F.count(F.lit(1)).cast("double")
            - mu * mu
        ).alias("vr"),
    )
    z = (F.col("cnt").cast("double") - F.col("mu")) / F.sqrt(
        F.col("vr") + F.lit(1e-9)
    )
    return (
        cells.join(F.broadcast(base), ["dow", "hod"])
        .filter(F.abs(z) >= 2.0)
        .select(
            "h",
            "cnt",
            "n_obs",
            F.round(F.col("mu"), 9).alias("baseline"),
            F.round(z, 9).alias("z"),
        )
    )


@register(
    "q_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), pairs AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ), tot AS (
      SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_total
      FROM pairs GROUP BY prev_type
    )
    SELECT p.prev_type, p.next_type, p.n, t.row_total,
           round(CAST(p.n AS DOUBLE) / CAST(t.row_total AS DOUBLE), 9)
             AS prob
    FROM pairs p JOIN tot t ON p.prev_type = t.prev_type
    """,
    doc="First-order Markov transition matrix over per-user event-type "
        "sequences — the behavioral-sequence summary that feeds "
        "next-action models and synthetic-session generators. Pairs "
        "come from ONE user-partitioned LAG window (ties broken by "
        "event_id for a deterministic sequence), then a (from, to) "
        "keyed count with map-side partials; row-normalizing "
        "probabilities joins the #states-row totals (bounded by the "
        "event-type domain, broadcast). Counts are exact integers and "
        "each probability is one integer division, so both engines "
        "see identical doubles. The transition matrix is #states^2 "
        "rows at ANY corpus size — the per-user window shuffles on "
        "user_id, never a global sort.",
    tags=("timeseries", "sequence", "window"),
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(win).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    pairs = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = pairs.groupBy("prev_type").agg(
        F.sum("n").cast("bigint").alias("row_total")
    )
    return pairs.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        "row_total",
        F.round(
            F.col("n").cast("double") / F.col("row_total").cast("double"), 9
        ).alias("prob"),
    )


@register(
    "q_burstiness",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             epoch_us(ts) - LAG(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
      FROM events WHERE user_id < 30
    ), moments AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_gaps,
             CAST(SUM(CAST(d AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sd,
             CAST(SUM(CAST(d AS DECIMAL(19,0)) * CAST(d AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS sd2
      FROM seq WHERE d IS NOT NULL
      GROUP BY user_id
    ), stats AS (
      SELECT user_id, n_gaps,
             CAST(sd AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu,
             sqrt(GREATEST(CAST(0 AS DOUBLE),
               (CAST(n_gaps AS DOUBLE) * CAST(sd2 AS DOUBLE)
                - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
               / (CAST(n_gaps AS DOUBLE) * CAST(n_gaps AS DOUBLE))))
               AS sigma
      FROM moments WHERE n_gaps >= 2 AND sd > 0
    )
    SELECT user_id, n_gaps,
           round(mu, 3) AS mean_gap_us,
           round(sigma, 3) AS std_gap_us,
           round((sigma - mu) / (sigma + mu), 9) AS burstiness
    FROM stats
    """,
    doc="Per-user inter-event burstiness B = (sigma - mu)/(sigma + mu) "
        "over microsecond-exact arrival gaps (Goh & Barabasi 2008: "
        "B -> -1 periodic, 0 Poisson, -> 1 bursty) — the temporal "
        "signature that separates bots from humans and batch feeds "
        "from organic ones. Gaps come from one user-partitioned LAG "
        "window on integer epoch-microseconds (unix_micros / "
        "epoch_us, no fractional-second divergence); the moment sums "
        "fold through exact decimals (order-independent), and every "
        "double step after the deterministic casts is the same IEEE "
        "arithmetic on both engines — sqrt is correctly rounded, so "
        "even sigma is bit-identical (gap stats REPORT at 3 decimals: on "
        "1e10-microsecond magnitudes, 9 fractional digits sit below the "
        "double ulp where engine rounding diverges). Bounded to "
        "user_id < 30 for the "
        "fixture; the plan is one window + one grouped aggregate, "
        "shuffling on user_id only.",
    tags=("timeseries", "stats", "window"),
)
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    seq = ev.select(
        "user_id", (us - F.lag(us).over(win)).alias("d")
    ).filter(F.col("d").isNotNull())
    dd = F.col("d").cast("decimal(19,0)")
    moments = seq.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum(dd).cast("decimal(38,0)").alias("sd"),
        F.sum(dd * dd).cast("decimal(38,0)").alias("sd2"),
    ).filter((F.col("n_gaps") >= 2) & (F.col("sd") > 0))
    n_d = F.col("n_gaps").cast("double")
    mu = F.col("sd").cast("double") / n_d
    sigma = F.sqrt(
        F.greatest(
            F.lit(0.0),
            (
                n_d * F.col("sd2").cast("double")
                - F.col("sd").cast("double") * F.col("sd").cast("double")
            )
            / (n_d * n_d),
        )
    )
    return moments.select(
        "user_id",
        "n_gaps",
        F.round(mu, 3).alias("mean_gap_us"),
        F.round(sigma, 3).alias("std_gap_us"),
        F.round((sigma - mu) / (sigma + mu), 9).alias("burstiness"),
    )
