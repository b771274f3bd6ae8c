"""Round-13 law tests: the curation policy picker, the 128-bit
decimal-sum accumulators (loud overflow, wide per-row domain), and the
tier-portable gate fixes."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def test_curation_policy_picker_laws(spark, sf_dir):
    from dataintegration_csvprovider_spark.queries.llm import (
        q_curation_policy_picker,
    )

    rows = {r["lang"]: r for r in q_curation_policy_picker(spark, sf_dir).collect()}
    assert len(rows) >= 2
    for r in rows.values():
        # rates are rates
        for c in ("exact_dup_rate", "near_dup_rate", "frac_short"):
            assert 0.0 <= r[c] <= 1.0, (r["lang"], c, r[c])
        # the kept subset is a subset
        assert 0 <= r["n_docs_kept"] <= r["n_docs"]
        assert 0 <= r["tokens_kept"] <= r["total_tokens"]
        # the policy is the stated threshold function of the metrics
        if r["near_dup_rate"] > 0.30 or r["frac_short"] > 0.60:
            want = 0
        elif (
            r["exact_dup_rate"] > 0.05
            or r["near_dup_rate"] > 0.15
            or r["frac_short"] > 0.30
        ):
            want = 1
        else:
            want = 2
        assert r["weight_x2"] == want, (r["lang"], r)
        assert r["decision"] == {0: "drop", 1: "downweight", 2: "keep"}[want]
        # executed budget is exact integer half-unit arithmetic
        assert r["tokens_effective"] == (r["tokens_kept"] * want) // 2
    # decisions come only from the policy vocabulary (the non-degenerate
    # keep/downweight mix is exercised by the sf0.01 oracle gate, where
    # the en/es short-doc fractions cross the 0.30 threshold; the
    # sf0.001 smoke fixture legitimately reads all-keep)
    decisions = {r["decision"] for r in rows.values()}
    assert decisions <= {"keep", "downweight", "drop"}, decisions


def test_dsum_128bit_no_silent_wrap(spark):
    """The r13 accumulator upgrade: sums past 2^63 micro-units must
    not silently wrap (the pre-r13 LongType sum did). With the
    DECIMAL(38,0) accumulator the sum stays exact."""
    from dataintegration_csvprovider_spark.queries.registry import exact_sum

    # 2000 rows of 9.2e9 -> 1.84e13 total = 1.84e19 micros > 2^63
    df = spark.range(2000).select(F.lit(9.2e9).alias("v"))
    got = df.agg(exact_sum(F.col("v")).alias("s")).collect()[0]["s"]
    assert got is not None
    assert math.isclose(got, 2000 * 9.2e9, rel_tol=1e-12), got


def test_dsum12_wide_per_row_domain(spark):
    """exact_sum's scale-12 DECIMAL(38,0) path accepts per-row values far
    above the old int64 pico bound (9.2e6) — the TF-IDF w*w class."""
    from dataintegration_csvprovider_spark.queries.registry import exact_sum

    vals = [2.5e9, 1.0e11, -3.75e10, 0.000000000123]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = df.agg(exact_sum(F.col("v"), scale=12).alias("s")).collect()[0]["s"]
    want = sum(round(v, 12) for v in vals)
    assert math.isclose(got, want, rel_tol=1e-12), (got, want)


def test_dsum12_matches_duckdb_oracle_twin(spark):
    """Spark exact_sum and DuckDB sql_exact_sum at scale 12 produce the identical double
    on the same values (the cross-engine contract, incl. values above
    the old per-row bound)."""
    import duckdb

    from dataintegration_csvprovider_spark.queries.registry import (
        exact_sum,
        sql_exact_sum,
    )

    vals = [1.5, -2.25, 3.1e8, 9.9e10, 1e-12, -7.000000000001]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = df.agg(exact_sum(F.col("v"), scale=12).alias("s")).collect()[0]["s"]
    lst = ", ".join(repr(v) for v in vals)
    want = duckdb.sql(
        f"SELECT {sql_exact_sum('v', scale=12)} AS s FROM (SELECT unnest([{lst}]) AS v)"
    ).fetchone()[0]
    assert got == want, (got, want)


def test_sql_dsum_shared_is_dialect_neutral(spark):
    """The shared micros text parses and computes identically on BOTH
    engines (the q_grouping_sets regression: HUGEINT is not a Spark
    type)."""
    import duckdb

    from dataintegration_csvprovider_spark.queries.registry import sql_exact_sum

    expr = sql_exact_sum("v")
    vals = [1.25, 3e9, 4.000001e9, -7.123456e10]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    df.createOrReplaceTempView("shared_vals")
    got = spark.sql(f"SELECT {expr} AS s FROM shared_vals").collect()[0]["s"]
    lst = ", ".join(repr(v) for v in vals)
    want = duckdb.sql(
        f"SELECT {expr} AS s FROM (SELECT unnest([{lst}]) AS v)"
    ).fetchone()[0]
    assert got == want, (got, want)


def test_fixture_gated_census_skips_cleanly(spark, sf_dir):
    """Off a pinned fixture signature the census queries return an
    empty frame with the stable schema (clean SKIP, not a red)."""
    from dataintegration_csvprovider_spark.queries.llm import (
        _PINNED_DOC_SIGS,
        q_bpe_tokenize,
        q_compression_quality,
    )

    docs_sig = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .agg(F.sum("n_chars"))
        .collect()[0][0]
    )
    assert docs_sig in _PINNED_DOC_SIGS  # the driver fixtures are pinned

    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="offfixture_")
    try:
        # an off-fixture documents table: drop one row, signature shifts
        spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
            F.col("doc_id") != 0
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        cq = q_compression_quality(spark, d)
        bp = q_bpe_tokenize(spark, d)
        assert cq.count() == 0
        assert bp.count() == 0
        assert [f.name for f in cq.schema.fields] == [
            "lang", "n_docs", "total_zlib", "ratio_sum"
        ]
        assert [f.name for f in bp.schema.fields] == [
            "lang", "n_docs", "total_bpe"
        ]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_recall_floor_scales_with_corpus(spark):
    from dataintegration_csvprovider_spark.queries.llm import (
        _recall_floor_hits,
    )

    small = spark.range(500).select(F.lit(1).alias("x"))
    large = spark.range(50000).select(F.lit(1).alias("x"))
    # driver fixtures keep the historical 5-hit floor
    assert _recall_floor_hits(small) == 5
    # large tiers scale the floor to 20x the random-shortlist baseline
    assert 1 <= _recall_floor_hits(large) < 5
