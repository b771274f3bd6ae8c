"""Third relational batch: JSON extraction, array/map construction and
aggregation, value-range window frames, deterministic argmax.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import exact_sum, register, sql_exact_sum


@register(
    "q_json_extract",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_raw,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           CAST(json_extract_string(props, '$.missing') IS NULL AS INT) AS missing_is_null
    FROM events
    WHERE event_id < 2000
    """,
    doc="JSON path extraction from the events props column.",
    tags=("scalar", "json"),
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    k = F.get_json_object("props", "$.k")
    return events.select(
        "event_id",
        k.alias("k_raw"),
        k.cast("int").alias("k"),
        F.get_json_object("props", "$.missing")
        .isNull()
        .cast("int")
        .alias("missing_is_null"),
    )


@register(
    "q_array_agg",
    oracle="""
    SELECT n_regionkey,
           array_to_string(list_sort(list(n_name)), '|') AS nations_csv,
           CAST(len(list_sort(list(n_name))) AS INT) AS n
    FROM nation
    GROUP BY n_regionkey
    """,
    doc="Array aggregation (collect + sort for determinism), serialized to "
        "a delimited string: the driver's order-insensitive hash sorts "
        "column values in pandas, and raw list cells are unhashable there.",
    tags=("agg", "array"),
)
def q_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    arr = F.array_sort(F.collect_list("n_name"))
    return nation.groupBy("n_regionkey").agg(
        F.array_join(arr, "|").alias("nations_csv"),
        F.size(arr).cast("int").alias("n"),
    )


@register(
    "q_array_functions",
    oracle="""
    SELECT doc_id,
           string_split(text, ' ')[1] AS first_word,
           string_split(text, ' ')[-1] AS last_word,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_unique,
           CAST(list_contains(string_split(text, ' '), 'spark') AS INT) AS has_spark,
           array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3], ' ')
             AS first3_sorted
    FROM documents
    WHERE doc_id < 200
    """,
    doc="Array functions over tokenized text: index/contains/distinct/"
        "slice/sort.",
    tags=("scalar", "array"),
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    ws = F.split("text", " ")
    uniq = F.array_sort(F.array_distinct(ws))
    return docs.select(
        "doc_id",
        F.element_at(ws, 1).alias("first_word"),
        F.element_at(ws, -1).alias("last_word"),
        F.size(F.array_distinct(ws)).cast("int").alias("n_unique"),
        F.array_contains(ws, "spark").cast("int").alias("has_spark"),
        F.array_join(F.slice(uniq, 1, 3), " ").alias("first3_sorted"),
    )


@register(
    "q_window_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           COUNT(*) OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice
             RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW) AS n_within_50k
    FROM orders
    WHERE o_custkey <= 200
    """,
    doc="Value-range window frame (RANGE BETWEEN n PRECEDING): peers "
        "within a price band, not a row count.",
    tags=("window", "range"),
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 200)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-50000, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.count(F.lit(1)).over(w).alias("n_within_50k"),
    )


@register(
    "q_argmax_deterministic",
    oracle="""
    WITH m AS (
      SELECT o_custkey, MAX(o_totalprice) AS max_price
      FROM orders GROUP BY o_custkey)
    SELECT m.o_custkey, m.max_price,
           MIN(o.o_orderkey) AS best_orderkey
    FROM m JOIN orders o
      ON o.o_custkey = m.o_custkey AND o.o_totalprice = m.max_price
    GROUP BY m.o_custkey, m.max_price
    """,
    doc="Deterministic argmax (which order hit the customer's max price; "
        "min orderkey on ties) via self-join-with-max — tie-safe unlike "
        "bare max_by/arg_max.",
    tags=("agg", "argmax"),
)
def q_argmax_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").alias("o")
    m = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.max("o_totalprice").alias("max_price"))
        .withColumnRenamed("o_custkey", "m_custkey")
        .alias("m")
    )
    return (
        orders.join(
            m,
            (F.col("o.o_custkey") == F.col("m.m_custkey"))
            & (F.col("o.o_totalprice") == F.col("m.max_price")),
        )
        .groupBy(F.col("m.m_custkey"), F.col("m.max_price"))
        .agg(F.min("o.o_orderkey").alias("best_orderkey"))
        .select(
            F.col("m_custkey").alias("o_custkey"),
            "max_price",
            "best_orderkey",
        )
    )


@register(
    "q_conditional_agg",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           COUNT(*) FILTER (WHERE l_tax = 0) AS n_taxfree,
           {sql_exact_sum("CASE WHEN l_quantity > 25 THEN l_extendedprice END")} AS bulk_revenue
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Filtered/conditional aggregation (FILTER clause + CASE-sum).",
    tags=("agg",),
)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.count_if(F.col("l_tax") == 0).alias("n_taxfree"),
        exact_sum(
            F.when(F.col("l_quantity") > 25, F.col("l_extendedprice"))
        ).alias("bulk_revenue"),
    )


@register(
    "q_variant_shred",
    oracle="""
    SELECT event_id,
           user_id AS uid,
           CAST(value AS DOUBLE) AS val,
           event_type AS etype,
           TRUE AS missing_is_null
    FROM events
    WHERE user_id < 20
    """,
    doc="Spark 4 VARIANT round trip: a nested JSON document is built "
        "from the row (to_json of nested structs), parsed into a "
        "VARIANT with parse_json, and shredded back to typed columns "
        "with variant_get path extraction — the oracle recomputes the "
        "same values straight from the source columns, so any loss in "
        "the encode/parse/shred chain breaks the hash. VARIANT is the "
        "semi-structured scale path: binary-encoded, no per-row string "
        "re-parse per extracted field, shredding-friendly.",
    tags=("scalar", "json", "variant"),
)
def q_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    doc = F.to_json(
        F.struct(
            F.struct(F.col("user_id").alias("id")).alias("user"),
            F.struct(
                F.col("value").alias("v"), F.col("event_type").alias("t")
            ).alias("m"),
        )
    )
    v = F.parse_json(doc)
    return ev.select(
        "event_id",
        F.variant_get(v, "$.user.id", "bigint").alias("uid"),
        F.variant_get(v, "$.m.v", "double").alias("val"),
        F.variant_get(v, "$.m.t", "string").alias("etype"),
        F.variant_get(v, "$.nope", "int").isNull().alias("missing_is_null"),
    )
