"""Remaining SURVEY §2 parity rows: F2 interceptor hook, T6 locale
numeric render, J4 programmatic source injection."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataintegration_csvprovider_spark.functions.numeric import render_number
from dataintegration_csvprovider_spark.plans.mapping_compiler import (
    ColumnMapping,
    Mapping,
    compile_mapping,
)
from dataintegration_csvprovider_spark.sources.csv_source import (
    CsvSource,
    CsvSourceOptions,
)


def test_interceptor_extra_filter(spark):
    # F2: ProcessInputRow analog — an extra predicate gates rows beyond
    # the mapping conditionals (CSVProvider.cs:570-573)
    df = spark.createDataFrame(
        [("1", "a"), ("2", "b"), ("3", "a")], "id string, tag string"
    )
    m = Mapping(
        source_table="t",
        column_mappings=[ColumnMapping(source_column="id")],
    )
    out = compile_mapping(df, m, extra_filter=F.col("tag") == "a")
    assert [r.id for r in out.collect()] == ["1", "3"]


def test_format_decimal_renders(spark):
    # T6: deterministic locale render (reference: job-culture formatting,
    # CSVDestinationWriter.cs:103-107)
    df = spark.createDataFrame([(1234.56,), (0.5,)], "v double")
    out = df.select(
        render_number(F.col("v")).alias("inv"),
        render_number(F.col("v"), "de-DE").alias("de"),
    ).collect()
    assert (out[0].inv, out[0].de) == ("1234.56", "1234,56")
    assert (out[1].inv, out[1].de) == ("0.5", "0,5")


def test_write_to_source_file(spark, tmp_path):
    # J4: raw text injected into the configured source file
    f = tmp_path / "inject.csv"
    f.write_text("placeholder")
    src = CsvSource(file=str(f))
    src.write_to_source_file("a;b\n1;2\n")
    assert src.read(spark, "inject").collect()[0].asDict() == {"a": "1", "b": "2"}
    # folder-only source refuses (no single target)
    with pytest.raises(ValueError, match="requires a configured source file"):
        CsvSource(folder=str(tmp_path)).write_to_source_file("x\n")
