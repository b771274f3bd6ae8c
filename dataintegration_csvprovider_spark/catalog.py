"""Table catalog over the fixture parquet directories.

The reference models a catalog as one table per CSV file in a folder,
named by basename (CSVProvider.cs:183,285,641-656). We reproduce that
discovery model generically over a directory of parquet/CSV files; the
driver's fixtures are parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: canonical fixture tables (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: attribute of the SparkSession holding its analyzed-scan memo, keyed
#: by (sf_dir, table). Every ``spark.read.parquet`` call pays ~150 ms of
#: py4j round-trips + file listing + footer schema inference, and the
#: query registry makes ~400 load_table calls per pass. The memo caches
#: the analyzed SCAN PLAN (an unexecuted DataFrame) — catalog metadata,
#: not results: every action re-reads the parquet files. Fixture
#: directories are immutable, so the file-listing snapshot is exact.
#: Held on the session object, the memo is released with the session.
_MEMO_ATTR = "_graft_table_memo"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Parquet scan → columnar, pushdown-capable.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark only reads as a
    raw long (nanosAsLong) — convert to a microsecond timestamp with exact
    integer division (the values exceed 2^53, so float math would corrupt
    them). Truncation matches DuckDB's nanos→micros conversion."""
    # defensive session pinning, on every call (a memo hit included): the
    # caller may hand us a session built without the engine's factory, or
    # have changed these since — they are runtime-settable and required
    # for correct results: UTC keeps collected timestamps canonical;
    # nanosAsLong makes events readable
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    memo = spark.__dict__.setdefault(_MEMO_ATTR, {})
    cached = memo.get((sf_dir, name))
    if cached is not None:
        return cached
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    ts_type = dict(df.dtypes).get("ts")
    if name == "events" and ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif name == "events" and ts_type == "timestamp_ntz":
        # parquet NTZ inference path: withWatermark and the epoch
        # functions need TIMESTAMP (LTZ); session tz is pinned UTC, so
        # the cast changes the type, not the rendered values
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    memo[(sf_dir, name)] = df
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load fixture tables and register each as a temp view (so the SQL
    surface and the DataFrame surface see the same catalog)."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
