"""Smoke tests for the driver contract (__spark_entry__.py)."""

from __future__ import annotations

import __spark_entry__ as ent


def test_entry_returns_rows(spark):
    df = ent.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_registry_integrity(spark):
    qs = ent.queries()
    oracles = ent.oracle_sql()
    assert len(qs) >= 20
    # every oracle key has a query
    assert set(oracles) <= set(qs)
    for name, q in qs.items():
        assert callable(q), name


def test_each_query_runs_smoke(spark, sf_dir):
    """Every registered query must at least execute at sf0.001."""
    for name, q in ent.queries().items():
        df = q(spark, sf_dir)
        assert df.limit(1).count() >= 0, name


def test_grade_first_lists_each_name_once():
    # a repeated name cannot move anything (first occurrence wins), so
    # every repeat is dead weight in the ordering list
    from dataintegration_csvprovider_spark.queries.registry import _GRADE_FIRST

    repeats = sorted({n for n in _GRADE_FIRST if _GRADE_FIRST.count(n) > 1})
    assert repeats == []
