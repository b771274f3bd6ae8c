"""SQL front door: queries submitted as SQL text via ``spark.sql`` over
temp views — the engine's second query API next to the DataFrame builder
(same Catalyst plans underneath, so everything the plan audit proves for
the DataFrame surface holds here too).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from .registry import register, sql_exact_sum

# r13 decimal-sum migration: every revenue/price sum in this module is
# data-scaled (global or large-group lineitem/orders sums cross the
# 2^33 decimal->double double-rounding threshold from sf0.1 up), so all
# go through the dialect-neutral 128-bit micros form — the SAME string
# in the Spark SQL text and the DuckDB oracle.
_REV = sql_exact_sum("l_extendedprice * l_discount")
_PROMO_NUM = sql_exact_sum(
    "CASE WHEN p_type = 'PROMO' "
    "THEN l_extendedprice * (1 - l_discount) ELSE 0 END"
)
_PROMO_DEN = sql_exact_sum("l_extendedprice * (1 - l_discount)")
_TOTPRICE = sql_exact_sum("o_totalprice")
_EXTPRICE = sql_exact_sum("l_extendedprice")
_DISC_REV = sql_exact_sum("l_extendedprice * (1.0 - l_discount)")


def _register_views(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {_REV} AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1994-01-01' AND l_shipdate < DATE '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape via the SQL API: scan-filter-aggregate, every "
        "predicate pushed to the parquet scan; no shuffle beyond the "
        "single-row final aggregate.",
    tags=("tpch", "sql"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir, "lineitem")
    return spark.sql(f"""
        SELECT {_REV} AS revenue
        FROM lineitem
        WHERE l_shipdate >= DATE '1994-01-01' AND l_shipdate < DATE '1995-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """)


@register(
    "q14_promo_effect",
    oracle=f"""
    SELECT CAST(100.00 * {_PROMO_NUM}
             / {_PROMO_DEN} AS DOUBLE) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= DATE '1995-09-01' AND l_shipdate < DATE '1995-10-01'
    """,
    doc="TPC-H Q14 shape via the SQL API: fact-dim join (part broadcasts "
        "under AQE) + conditional revenue ratio in exact decimals.",
    tags=("tpch", "sql", "join"),
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(f"""
        SELECT CAST(100.00 * {_PROMO_NUM}
                 / {_PROMO_DEN} AS DOUBLE) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= DATE '1995-09-01' AND l_shipdate < DATE '1995-10-01'
    """)


@register(
    "q_sql_window",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(RANK() OVER (PARTITION BY o_custkey
                             ORDER BY o_totalprice DESC, o_orderkey) AS INT)
             AS price_rank
    FROM orders WHERE o_custkey < 100
    """,
    doc="Window function through the SQL API (identical text both "
        "engines) — proves SQL-surface parity for analytic queries.",
    tags=("window", "sql"),
)
def q_sql_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir, "orders")
    return spark.sql("""
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(RANK() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC, o_orderkey) AS INT)
                 AS price_rank
        FROM orders WHERE o_custkey < 100
    """)


@register(
    "q_parameterized_sql",
    oracle=f"""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           {_TOTPRICE} AS total
    FROM orders
    WHERE o_orderdate >= DATE '1994-01-01' AND o_totalprice > 1000.0
    GROUP BY o_orderpriority
    """,
    doc="Parameterized SQL (spark.sql named parameters): the engine's "
        "native replacement for the reference's request-value "
        "substitution into conditionals (ReplaceMappingConditionalsWith"
        "ValuesFromRequest, CSVProvider.cs:545) — values bind as typed "
        "parameters in the parser, never string-spliced, so injection "
        "is structurally impossible and plans cache across values.",
    tags=("sql", "parameter"),
)
def q_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir, "orders")
    return spark.sql(
        f"""
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
               {_TOTPRICE} AS total
        FROM orders
        WHERE o_orderdate >= :cutoff AND o_totalprice > :min_price
        GROUP BY o_orderpriority
        """,
        args={"cutoff": "1994-01-01", "min_price": 1000.0},
    )


@register(
    "q_sql_scripting",
    oracle=f"""
    WITH agg AS (
      SELECT {_EXTPRICE} AS total,
             COUNT(*) AS n
      FROM lineitem WHERE l_shipdate < DATE '1995-01-01'
    )
    SELECT total, n, CAST(total / n AS DOUBLE) AS avg_price FROM agg
    """,
    doc="Spark 4 SQL scripting (BEGIN ... END with DECLARE/SET): a "
        "multi-statement procedural script computes an aggregate into "
        "session variables and returns a final SELECT over them — the "
        "stored-procedure-style surface for migration from procedural "
        "ETL; the script's result must equal the single-statement CTE "
        "the oracle runs.",
    tags=("sql", "scripting"),
)
def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir, "lineitem")
    prev = spark.conf.get("spark.sql.scripting.enabled", None)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        return spark.sql(
            f"""
            BEGIN
              DECLARE total DOUBLE;
              DECLARE n BIGINT;
              SET (total, n) = (
                SELECT {_EXTPRICE},
                       COUNT(*)
                FROM lineitem WHERE l_shipdate < DATE '1995-01-01');
              SELECT total, n, CAST(total / n AS DOUBLE) AS avg_price;
            END
            """
        )
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.scripting.enabled", prev)
        else:
            spark.conf.unset("spark.sql.scripting.enabled")


@register(
    "q_sql_udf",
    oracle=f"""
    SELECT CASE WHEN l_extendedprice < 10000.0 THEN 'low'
                WHEN l_extendedprice < 40000.0 THEN 'mid'
                ELSE 'high' END AS band,
           CAST(COUNT(*) AS BIGINT) AS n,
           {_DISC_REV} AS revenue
    FROM lineitem
    GROUP BY 1
    """,
    doc="Spark 4 SQL UDFs (CREATE TEMPORARY FUNCTION ... RETURN expr): "
        "named, typed, catalog-registered scalar functions defined in "
        "pure SQL — the engine's declarative replacement for the "
        "reference's per-column value-conversion scripts "
        "(ColumnMapping.ScriptType, CSVDestinationWriter.cs:95-115). "
        "Because the body is an expression, Catalyst inlines it at "
        "analysis time: the plan is identical to hand-inlined SQL "
        "(whole-stage codegen, pushdown through the function), which "
        "the oracle verifies by running the inlined form.",
    tags=("sql", "udf"),
)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir, "lineitem")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE)
        RETURNS DOUBLE RETURN p * (1.0 - d)
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE)
        RETURNS STRING RETURN CASE WHEN p < 10000.0 THEN 'low'
                                   WHEN p < 40000.0 THEN 'mid'
                                   ELSE 'high' END
        """
    )
    return spark.sql(
        f"""
        SELECT price_band(l_extendedprice) AS band,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_exact_sum("disc_price(l_extendedprice, l_discount)")}
                 AS revenue
        FROM lineitem
        GROUP BY price_band(l_extendedprice)
        """
    )
