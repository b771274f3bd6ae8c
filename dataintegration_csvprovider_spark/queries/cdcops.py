"""CDC query surface: changeset apply (upsert) and SCD2 history, both
fully oracle-checked (the operators are window+join plans, so DuckDB can
replay the exact semantics in SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.cdc import apply_changeset, scd2
from .registry import register, sql_exact_sum


def _feed(orders: DataFrame) -> DataFrame:
    """Deterministic synthetic change feed over the orders key space:
    one change per key in (4000, 8000] (op cycling I/U/D by key), plus a
    second, higher-seq 'U' for keys divisible by 5 — exercising
    latest-change-wins."""
    in_range = orders.filter(
        (F.col("o_orderkey") > 4000) & (F.col("o_orderkey") <= 8000)
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    first = in_range.select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + 1000).alias("o_totalprice"),
        "o_orderstatus",
        F.element_at(
            F.array(F.lit("I"), F.lit("U"), F.lit("D")),
            (F.col("o_orderkey") % 3 + 1).cast("int"),
        ).alias("op"),
        F.lit(1).alias("seq"),
    )
    second = in_range.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + 2000).alias("o_totalprice"),
        "o_orderstatus",
        F.lit("U").alias("op"),
        F.lit(2).alias("seq"),
    )
    return first.unionByName(second)


@register(
    "q_upsert_changeset",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey <= 6000),
    feed AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice,
             o_orderstatus,
             CASE o_orderkey % 3 WHEN 0 THEN 'I' WHEN 1 THEN 'U'
                  ELSE 'D' END AS op,
             1 AS seq
      FROM orders WHERE o_orderkey > 4000 AND o_orderkey <= 8000
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice + 2000, o_orderstatus,
             'U', 2
      FROM orders WHERE o_orderkey > 4000 AND o_orderkey <= 8000
        AND o_orderkey % 5 = 0),
    latest AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                     ORDER BY seq DESC, op DESC) AS rn
        FROM feed) WHERE rn = 1)
    SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
           CASE WHEN c.op IS NOT NULL THEN c.o_custkey
                ELSE b.o_custkey END AS o_custkey,
           CASE WHEN c.op IS NOT NULL THEN c.o_totalprice
                ELSE b.o_totalprice END AS o_totalprice,
           CASE WHEN c.op IS NOT NULL THEN c.o_orderstatus
                ELSE b.o_orderstatus END AS o_orderstatus
    FROM base b FULL JOIN latest c ON b.o_orderkey = c.o_orderkey
    WHERE c.op IS NULL OR c.op <> 'D'
    """,
    doc="MERGE-style upsert: I/U/D change feed applied to a base snapshot "
        "(latest change per key wins via one keyed window; full outer "
        "join resolves inserts/updates/deletes). operators/cdc.py.",
    tags=("cdc", "join"),
)
def q_upsert_changeset(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") <= 6000).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    return apply_changeset(
        base, _feed(orders), key_cols=["o_orderkey"], seq_col="seq"
    )


@register(
    "q_scd2_history",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, ts, event_type
      FROM events WHERE user_id < 30),
    m AS (
      SELECT *,
             LAG(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
             ROW_NUMBER() OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM e),
    v AS (
      SELECT * FROM m WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
    SELECT user_id, event_type, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to
    FROM v
    """,
    doc="SCD2 history from the event log: consecutive same-attribute rows "
        "per user collapse into [valid_from, valid_to) versions, NULL "
        "valid_to marking the current one. One shuffle on the business "
        "key. operators/cdc.py.",
    tags=("cdc", "window"),
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") < 30
    ).select("user_id", "event_id", "ts", "event_type")
    hist = scd2(
        events,
        key_cols=["user_id"],
        ts_col="ts",
        attr_cols=["event_type"],
        tiebreak_cols=["event_id"],
    )
    return hist.select("user_id", "event_type", "valid_from", "valid_to")


@register(
    "q_incremental_agg",
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sum_p} AS total_spend
    FROM orders
    GROUP BY o_custkey
    """.format(sum_p=sql_exact_sum("o_totalprice")),
    doc="Incremental aggregate maintenance: a per-customer rollup built "
        "from a pre-cutoff base aggregate merged with a post-cutoff "
        "delta aggregate (full-outer join on the key, partial sums kept "
        "in exact DECIMAL until the final merge so base+delta equals a "
        "full recompute bit-for-bit — the oracle IS the full recompute). "
        "At 100 TB the base never rescans: only the delta partition is "
        "aggregated and merged, the materialized-view maintenance "
        "pattern.",
    tags=("cdc", "agg", "incremental"),
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    cutoff = F.lit("2000-01-01").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        # r13: partials are exact integer MICRO-UNITS on a 128-bit
        # accumulator — mergeable by plain addition; the single
        # int->double conversion happens ONCE, after the merge, so
        # base+delta equals a full exact_sum() recompute bit-for-bit.
        # decimal-sum-ok: returns raw mergeable micros partials, not a
        # double, so exact_sum's single conversion cannot apply here
        micros = (
            (F.col("o_totalprice").cast("decimal(18,6)") * F.lit(1_000_000))
            .cast("long")
            .cast("decimal(38,0)")
        )
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(micros).alias("s"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < cutoff)).select(
        F.col("o_custkey"), F.col("n").alias("n_base"), F.col("s").alias("s_base")
    )
    delta = partial(orders.filter(F.col("o_orderdate") >= cutoff)).select(
        F.col("o_custkey"), F.col("n").alias("n_delta"), F.col("s").alias("s_delta")
    )
    zero = F.lit(0).cast("decimal(38,0)")
    return (
        base.join(delta, "o_custkey", "full_outer")
        .select(
            "o_custkey",
            (
                F.coalesce(F.col("n_base"), F.lit(0))
                + F.coalesce(F.col("n_delta"), F.lit(0))
            ).cast("bigint").alias("n_orders"),
            (
                (
                    F.coalesce(F.col("s_base"), zero)
                    + F.coalesce(F.col("s_delta"), zero)
                ).cast("double")
                / F.lit(1_000_000.0)
            ).cast("double").alias("total_spend"),
        )
    )


@register(
    "q_corpus_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT doc_id,
             md5(concat_ws(chr(31), text, lang, source)) AS sig
      FROM documents WHERE doc_id % 7 <> 3
    ), new AS (
      SELECT doc_id,
             md5(concat_ws(chr(31),
                           CASE WHEN doc_id % 5 = 0 THEN text || ' rev2'
                                ELSE text END,
                           lang, source)) AS sig
      FROM documents WHERE doc_id % 11 <> 5
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.sig IS NULL THEN 'added'
                WHEN n.sig IS NULL THEN 'removed'
                ELSE 'changed' END AS status
    FROM old o FULL JOIN new n ON o.doc_id = n.doc_id
    WHERE o.sig IS NULL OR n.sig IS NULL OR o.sig <> n.sig
    """,
    doc="Corpus-version snapshot diff (operators/cdc.py snapshot_diff) — "
        "the inverse of q_upsert_changeset: derive added/removed/changed "
        "keys from two full snapshots by comparing md5 content "
        "signatures (engine-portable; Spark and DuckDB md5 agree "
        "bit-for-bit). Synthetic versions: old drops doc_id%7==3, new "
        "drops doc_id%11==5 and revises text on doc_id%5==0. The join "
        "ships (key, digest) rows only — the diff is O(rows) regardless "
        "of document size, and unchanged keys (the 100 TB bulk) never "
        "leave the join.",
    tags=("cdc", "dedup", "join"),
)
def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cdc import snapshot_diff

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 3).select(
        "doc_id", "text", "lang", "source"
    )
    new = docs.filter(F.col("doc_id") % 11 != 5).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" rev2"))
        ).otherwise(F.col("text")).alias("text"),
        "lang",
        "source",
    )
    return snapshot_diff(
        old, new, key_cols=["doc_id"], content_cols=["text", "lang", "source"]
    )
