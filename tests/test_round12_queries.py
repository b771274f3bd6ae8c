"""Round-12 query law tests: the hybrid retrieval ablation and the
micros-form exact_sum sum/mean (the sf1 cross-engine drift fix)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_hybrid_retrieval_eval_laws(spark, sf_dir):
    from dataintegration_csvprovider_spark.queries.llm import (
        q_hybrid_retrieval_eval,
    )

    rows = {
        (r["corpus"], r["ranker"]): r
        for r in q_hybrid_retrieval_eval(spark, sf_dir).collect()
    }
    assert set(rows) == {
        (c, k)
        for c in ("raw", "dedup")
        for k in ("bm25", "dense", "rrf")
    }
    n_q = {r["n_queries"] for r in rows.values()}
    assert len(n_q) == 1 and n_q.pop() > 0
    for r in rows.values():
        # the IVF-blocked pair gate held: blocked pairs == planted twins
        assert r["pair_gate_ok"]
        # hits are monotone in k and bounded by the query count
        assert 0 <= r["hits_at1"] <= r["hits_at3"] <= r["hits_at5"]
        assert r["hits_at5"] <= r["n_queries"]
        assert r["redundant_slots"] >= 0
    # the planted markers + twin vectors make known-item retrieval
    # succeed for the strong signals: dense always finds the original
    # at rank 1 (cosine >= 0.943 vs < 0.6 for anything else)
    assert rows[("raw", "dense")]["hits_at1"] == rows[
        ("raw", "dense")
    ]["n_queries"]
    assert rows[("dedup", "dense")]["hits_at1"] == rows[
        ("dedup", "dense")
    ]["n_queries"]
    # the dedup theorem: one vector per cluster => top-5 can never
    # waste a slot, for EVERY ranker
    for k in ("bm25", "dense", "rrf"):
        assert rows[("dedup", k)]["redundant_slots"] == 0
    # the raw corpus provably wastes slots (each query's twin sits
    # adjacent in both signal spaces)
    assert rows[("raw", "dense")]["redundant_slots"] > 0
    assert rows[("raw", "bm25")]["redundant_slots"] > 0


def test_dsum_davg_micros_form(spark):
    """The micros-form helpers agree with exact arithmetic, including
    negatives (truncating casts must not diverge on sign)."""
    from dataintegration_csvprovider_spark.queries.registry import exact_sum

    df = spark.createDataFrame(
        [(1.5,), (-2.25,), (3331310.08,), (-0.000001,), (1e9,)],
        "x double",
    )
    row = df.agg(
        exact_sum(F.col("x")).alias("s"),
        exact_sum(F.col("x"), mean=True).alias("a"),
    ).first()
    expected_sum = (
        1_500_000 - 2_250_000 + 3_331_310_080_000 - 1 + 10**15
    ) / 1e6
    assert row["s"] == expected_sum
    assert row["a"] == expected_sum / 5


def test_ann_probe_curve_laws(spark, sf_dir):
    from dataintegration_csvprovider_spark.queries.llm import (
        q_ann_probe_curve,
    )

    rows = {
        r["n_probe"]: r for r in q_ann_probe_curve(spark, sf_dir).collect()
    }
    assert sorted(rows) == [1, 2, 4]
    n_q = {r["n_queries"] for r in rows.values()}.pop()
    assert n_q > 0
    for r in rows.values():
        assert r["exact_slots"] == rows[1]["exact_slots"] > 0
        assert 0 <= r["recall_hits"] <= r["exact_slots"]
        # every query contributes at most (corpus-1) candidates
        assert r["candidate_rows"] >= 0
    # the operating-curve laws: each extra probe can only ADD cells,
    # so both recall and cost are monotone non-decreasing in n_probe
    assert (
        rows[1]["recall_hits"]
        <= rows[2]["recall_hits"]
        <= rows[4]["recall_hits"]
    )
    assert (
        rows[1]["candidate_rows"]
        <= rows[2]["candidate_rows"]
        <= rows[4]["candidate_rows"]
    )
    # probing is non-vacuous: at least one exact neighbor is found
    assert rows[4]["recall_hits"] > 0
