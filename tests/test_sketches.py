"""Mergeable quantile sketch (operators/sketches.py): weight
conservation, merge-order insensitivity of the graded facts, rank-error
bound, and the distributed build path."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dataintegration_csvprovider_spark.operators.sketches import (
    MRL_K,
    collect_sketch,
    mrl_compact,
    mrl_insert,
    mrl_merge,
    mrl_quantiles,
    mrl_total_weight,
    quantile_sketch_rows,
)

PROBES = [0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99]


def _rank_err(data: np.ndarray, levels) -> float:
    # an estimate with ties occupies the rank interval [lo, hi]; its
    # error is the distance from that interval to the target q·n — the
    # same le/lt window the q_quantile_sketch gate asserts in-query
    exact = np.sort(data)
    n = len(data)
    errs = []
    for q, est in mrl_quantiles(levels, PROBES):
        lo = np.searchsorted(exact, est, side="left") / n
        hi = np.searchsorted(exact, est, side="right") / n
        errs.append(max(q - hi, lo - q, 0.0))
    return max(errs)


def test_weight_conserved_under_any_split():
    rng = np.random.default_rng(11)
    data = rng.normal(0, 1, 50_000)
    for n_parts in (1, 3, 7, 50):
        parts = np.array_split(data, n_parts)
        merged = mrl_merge([mrl_insert({}, p) for p in parts])
        assert mrl_total_weight(merged) == len(data)


def test_rank_error_bound_across_splits_and_distributions():
    rng = np.random.default_rng(13)
    for data in (
        rng.lognormal(3, 1, 80_000),          # heavy tail
        rng.integers(0, 10, 80_000).astype(float),  # massive ties
        np.arange(80_000, dtype=float),       # already sorted
    ):
        for n_parts in (1, 16, 64):
            parts = np.array_split(rng.permutation(data), n_parts)
            merged = mrl_merge([mrl_insert({}, p) for p in parts])
            assert _rank_err(data, merged) <= 0.05


def test_merge_order_insensitive_facts():
    # incremental ((a+b)+c) vs balanced (a+(b+c)) vs flat merge may keep
    # different items, but weight is identical and both obey the bound
    rng = np.random.default_rng(17)
    data = rng.exponential(5, 30_000)
    a, b, c = np.array_split(data, 3)
    sa, sb, sc = (mrl_insert({}, x) for x in (a, b, c))
    incr = mrl_merge([mrl_merge([sa, sb]), sc])
    bal = mrl_merge([sa, mrl_merge([sb, sc])])
    flat = mrl_merge([sa, sb, sc])
    for m in (incr, bal, flat):
        assert mrl_total_weight(m) == len(data)
        assert _rank_err(data, m) <= 0.05


def test_compact_respects_capacity_and_sorts():
    rng = np.random.default_rng(19)
    levels = mrl_insert({}, rng.normal(0, 1, 10_000))
    for lvl, vals in levels.items():
        assert len(vals) <= MRL_K
        assert (np.diff(vals) >= 0).all()
    # idempotent: compacting a compacted sketch changes nothing
    again = mrl_compact(dict(levels))
    assert {l: v.tolist() for l, v in again.items()} == {
        l: v.tolist() for l, v in levels.items()
    }


def test_small_input_is_exact():
    # fewer than k values: no collapse ever fires, quantiles are exact
    data = np.array([float(x) for x in range(100)])
    levels = mrl_insert({}, data)
    assert mrl_total_weight(levels) == 100
    for q, est in mrl_quantiles(levels, [0.5, 0.9]):
        assert est == data[int(np.ceil(q * 100)) - 1]


def test_empty_sketch_quantiles_nan():
    out = mrl_quantiles({}, [0.5])
    assert len(out) == 1 and np.isnan(out[0][1])


def test_distributed_build_matches_laws(spark):
    df = spark.range(0, 20_000).select(
        ((F.col("id") * 2654435761) % 100_000).cast("double").alias("v")
    )
    levels = collect_sketch(quantile_sketch_rows(df, "v"))
    assert mrl_total_weight(levels) == 20_000
    data = np.array([r.v for r in df.collect()])
    assert _rank_err(data, levels) <= 0.05


def test_distributed_build_skips_nulls(spark):
    df = spark.createDataFrame(
        [(float(i),) for i in range(500)] + [(None,)] * 50, "v double"
    )
    levels = collect_sketch(quantile_sketch_rows(df, "v"))
    assert mrl_total_weight(levels) == 500


def test_grouped_build_per_group_laws(spark):
    from dataintegration_csvprovider_spark.operators.sketches import (
        collect_grouped_sketch,
        grouped_quantile_sketch_rows,
    )

    # uneven groups: per-group weight exact, per-group rank bound holds
    df = spark.range(0, 30_000).select(
        F.when(F.col("id") % 10 < 7, F.lit("big"))
        .when(F.col("id") % 10 < 9, F.lit("mid"))
        .otherwise(F.lit("small"))
        .alias("g"),
        ((F.col("id") * 2654435761) % 1_000_000).cast("double").alias("v"),
    )
    sketches = collect_grouped_sketch(
        grouped_quantile_sketch_rows(df, "g", "v")
    )
    assert set(sketches) == {"big", "mid", "small"}
    rows = df.collect()
    for gk, expect in (("big", 21_000), ("mid", 6_000), ("small", 3_000)):
        assert mrl_total_weight(sketches[gk]) == expect
        data = np.array([r.v for r in rows if r.g == gk])
        assert _rank_err(data, sketches[gk]) <= 0.05


def _kmv_hash(x: int) -> int:
    from dataintegration_csvprovider_spark.operators.sketches import (
        KMV_A,
        KMV_B,
        KMV_P,
    )

    return (x * KMV_A + KMV_B) % KMV_P


def _kmv_build(keys, k=None):
    from dataintegration_csvprovider_spark.operators.sketches import KMV_K

    k = k or KMV_K
    hashes = sorted({_kmv_hash(x) for x in keys})
    return hashes[:k], len(hashes)


def test_kmv_merge_lossless_vs_rebuild():
    from dataintegration_csvprovider_spark.operators.sketches import (
        kmv_estimate,
        kmv_merge,
    )

    keys = list(range(1, 5001))
    whole = _kmv_build(keys)
    for n_parts in (2, 3, 7):
        parts = [keys[i::n_parts] for i in range(n_parts)]
        merged = kmv_merge([_kmv_build(p) for p in parts])
        # the k-set is identical, so the estimate is VALUE-equal
        assert merged[0] == whole[0]
        assert kmv_estimate(*merged) == kmv_estimate(*whole)


def test_kmv_exact_below_capacity():
    from dataintegration_csvprovider_spark.operators.sketches import (
        kmv_estimate,
        kmv_intersect_estimate,
    )

    a = _kmv_build(range(1, 31))
    b = _kmv_build(range(21, 51))
    assert kmv_estimate(*a) == 30.0
    assert kmv_estimate(*b) == 30.0
    # both exact -> theta = P -> intersection/difference estimates are
    # the exact overlap counts (assuming no hash collisions among 50)
    assert kmv_intersect_estimate(a, b) == 10.0
    from dataintegration_csvprovider_spark.operators.sketches import (
        kmv_difference_estimate,
    )

    assert kmv_difference_estimate(a, b) == 20.0
    assert kmv_difference_estimate(b, a) == 20.0


def test_kmv_estimate_accuracy():
    from dataintegration_csvprovider_spark.operators.sketches import (
        kmv_estimate,
        kmv_intersect_estimate,
    )

    a = _kmv_build(range(1, 10_001))
    b = _kmv_build(range(5_001, 15_001))
    # k=64 -> ~1/8 relative error; assert a loose 3-sigma-ish band
    assert abs(kmv_estimate(*a) - 10_000) / 10_000 < 0.4
    est_i = kmv_intersect_estimate(a, b)
    assert 0 < est_i < 15_000  # overlap 5k: rough positivity/scale check


def test_kmv_spark_build_matches_model(spark):
    from dataintegration_csvprovider_spark.operators.sketches import (
        kmv_sketch,
    )

    df = spark.range(1, 2001).select(F.col("id").alias("key"))
    vals, n = kmv_sketch(df, "key")
    model_vals, model_n = _kmv_build(range(1, 2001))
    assert vals == model_vals
    assert n == model_n


def test_grouped_build_null_group_and_value_skipped(spark):
    from dataintegration_csvprovider_spark.operators.sketches import (
        collect_grouped_sketch,
        grouped_quantile_sketch_rows,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), (None, 3.0), ("b", None)],
        "g string, v double",
    )
    sketches = collect_grouped_sketch(
        grouped_quantile_sketch_rows(df, "g", "v")
    )
    assert set(sketches) == {"a"}
    assert mrl_total_weight(sketches["a"]) == 2


# ---------------------------------------------------------------------------
# persisted ledger protocol (round 9): crash safety, idempotence, pruning
# ---------------------------------------------------------------------------


def _np_levels(vals):
    import numpy as np

    return {0: np.asarray(vals, dtype=float)}


def test_sketch_ledger_apply_idempotent_and_prunes(spark, tmp_path):
    from dataintegration_csvprovider_spark.operators.sketches import (
        sketch_ledger_apply,
        sketch_ledger_read,
    )

    ledger = str(tmp_path / "ledger")
    assert sketch_ledger_read(spark, ledger) == ({}, -1)

    assert sketch_ledger_apply(spark, ledger, {"w": _np_levels([1.0])}, 0)
    assert sketch_ledger_apply(spark, ledger, {"w": _np_levels([2.0])}, 1)
    state, applied = sketch_ledger_read(spark, ledger)
    assert applied == 1
    assert mrl_total_weight(state["w"]) == 2

    # same-id re-delivery (crash-after-commit): MUST be skipped —
    # a re-merge would double the weight
    assert not sketch_ledger_apply(
        spark, ledger, {"w": _np_levels([2.0])}, 1
    )
    state, applied = sketch_ledger_read(spark, ledger)
    assert applied == 1 and mrl_total_weight(state["w"]) == 2

    # stale id (very late duplicate) also skipped
    assert not sketch_ledger_apply(
        spark, ledger, {"w": _np_levels([9.0])}, 0
    )

    # generations pruned to the newest two
    import os

    assert sketch_ledger_apply(spark, ledger, {"w": _np_levels([3.0])}, 2)
    gens = sorted(d for d in os.listdir(ledger) if d.startswith("gen-"))
    assert gens == ["gen-1", "gen-2"]


def test_sketch_ledger_ignores_torn_generation(spark, tmp_path):
    import os

    from dataintegration_csvprovider_spark.operators.sketches import (
        sketch_ledger_apply,
        sketch_ledger_read,
    )

    ledger = str(tmp_path / "ledger")
    assert sketch_ledger_apply(spark, ledger, {"w": _np_levels([1.0])}, 0)

    # simulate a torn write: a newer generation directory with data
    # but NO _SUCCESS marker — the reader must fall back to gen-0
    torn = os.path.join(ledger, "gen-1")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    state, applied = sketch_ledger_read(spark, ledger)
    assert applied == 0
    assert mrl_total_weight(state["w"]) == 1

    # and the re-run of the batch that tore commits OVER the torn dir
    assert sketch_ledger_apply(spark, ledger, {"w": _np_levels([5.0])}, 1)
    state, applied = sketch_ledger_read(spark, ledger)
    assert applied == 1 and mrl_total_weight(state["w"]) == 2


def test_rows_ledger_commit_idempotent_any_schema(spark, tmp_path):
    """The sketch-agnostic ledger half: a re-delivered batch id is
    refused, so an additive merge (the CMS case — NOT idempotent by
    itself) cannot double-count across a crash/restart."""
    from dataintegration_csvprovider_spark.operators.sketches import (
        rows_ledger_commit,
        rows_ledger_read,
    )

    ledger = str(tmp_path / "ledger")
    schema = "i int, bucket bigint, c bigint"
    assert rows_ledger_read(spark, ledger) == ([], -1)

    assert rows_ledger_commit(spark, ledger, [(0, 7, 3)], schema, 0)
    # batch 1: the caller merged (+2 on the same cell) and commits
    assert rows_ledger_commit(spark, ledger, [(0, 7, 5)], schema, 1)
    # crash-after-commit re-delivery of batch 1: REFUSED — a second
    # additive fold would have made the cell 7
    assert not rows_ledger_commit(spark, ledger, [(0, 7, 7)], schema, 1)
    rows, applied = rows_ledger_read(spark, ledger)
    assert applied == 1
    assert [(r["i"], r["bucket"], r["c"]) for r in rows] == [(0, 7, 5)]


# ---------------------------------------------------------------------------
# manifest generation protocol (round 10): the object-store-safe variant
# ---------------------------------------------------------------------------


def test_manifest_ledger_laws(spark, tmp_path):
    """The listing-protocol laws hold verbatim under protocol="manifest":
    commit/read round-trip, re-delivery refusal, stale-id refusal,
    pruning — plus the MANIFEST file names the newest generation."""
    import os

    from dataintegration_csvprovider_spark.operators.sketches import (
        sketch_ledger_apply,
        sketch_ledger_read,
    )

    ledger = str(tmp_path / "ledger")
    assert sketch_ledger_read(spark, ledger, protocol="manifest") == ({}, -1)

    for bid, v in ((0, 1.0), (1, 2.0)):
        assert sketch_ledger_apply(
            spark, ledger, {"w": _np_levels([v])}, bid, protocol="manifest"
        )
    with open(os.path.join(ledger, "MANIFEST")) as fh:
        assert fh.read().strip() == "1"
    state, applied = sketch_ledger_read(spark, ledger, protocol="manifest")
    assert applied == 1 and mrl_total_weight(state["w"]) == 2

    # crash-after-commit re-delivery and a stale id: both refused
    assert not sketch_ledger_apply(
        spark, ledger, {"w": _np_levels([2.0])}, 1, protocol="manifest"
    )
    assert not sketch_ledger_apply(
        spark, ledger, {"w": _np_levels([9.0])}, 0, protocol="manifest"
    )
    state, applied = sketch_ledger_read(spark, ledger, protocol="manifest")
    assert applied == 1 and mrl_total_weight(state["w"]) == 2

    assert sketch_ledger_apply(
        spark, ledger, {"w": _np_levels([3.0])}, 2, protocol="manifest"
    )
    gens = sorted(d for d in os.listdir(ledger) if d.startswith("gen-"))
    assert gens == ["gen-1", "gen-2"]


def test_manifest_crash_between_generation_write_and_swap(spark, tmp_path):
    """The manifest protocol's exactly-once argument, exercised at the
    worst crash point: generation N fully written, MANIFEST still at
    N-1. The reader must NOT see the orphan; the re-delivered batch
    re-merges from N-1 state and commits OVER the orphan — one
    application, never two."""
    import os

    from dataintegration_csvprovider_spark.operators.sketches import (
        _GROUPED_SCHEMA,
        sketch_ledger_apply,
        sketch_ledger_read,
    )

    ledger = str(tmp_path / "ledger")
    assert sketch_ledger_apply(
        spark, ledger, {"w": _np_levels([1.0])}, 0, protocol="manifest"
    )

    # simulate the crash: write a COMPLETE gen-1 directory (with
    # _SUCCESS) directly, but leave the MANIFEST pointing at gen-0
    spark.createDataFrame(
        [("w", 0, 2.0), ("w", 0, 1.0)], _GROUPED_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(f"{ledger}/gen-1")

    state, applied = sketch_ledger_read(spark, ledger, protocol="manifest")
    assert applied == 0, "orphan generation must be invisible"
    assert mrl_total_weight(state["w"]) == 1
    # the listing protocol WOULD see the orphan — that asymmetry is
    # the whole point of the manifest on non-atomic stores
    _, applied_listing = sketch_ledger_read(spark, ledger)
    assert applied_listing == 1

    # re-delivery of batch 1 re-merges from gen-0 and swaps: weight 2,
    # exactly one application of the batch
    assert sketch_ledger_apply(
        spark, ledger, {"w": _np_levels([2.0])}, 1, protocol="manifest"
    )
    state, applied = sketch_ledger_read(spark, ledger, protocol="manifest")
    assert applied == 1 and mrl_total_weight(state["w"]) == 2


def test_manifest_corrupt_fails_loudly(spark, tmp_path):
    """An unparsable MANIFEST must raise, not restart from -1: silently
    treating corruption as 'no commits yet' would re-apply every
    committed batch (the additive-sketch double-count hazard)."""
    import os

    import pytest

    from dataintegration_csvprovider_spark.operators.sketches import (
        rows_ledger_read,
        sketch_ledger_apply,
    )

    ledger = str(tmp_path / "ledger")
    assert sketch_ledger_apply(
        spark, ledger, {"w": _np_levels([1.0])}, 0, protocol="manifest"
    )
    with open(os.path.join(ledger, "MANIFEST"), "w") as fh:
        fh.write("garbage")
    with pytest.raises(ValueError, match="corrupt ledger manifest"):
        rows_ledger_read(spark, ledger, protocol="manifest")


def test_manifest_and_listing_states_value_equal(spark, tmp_path):
    """Same batch sequence through both protocols -> identical sketch
    state and applied-through id (the protocol changes generation
    DISCOVERY, never the sketch arithmetic)."""
    from dataintegration_csvprovider_spark.operators.sketches import (
        mrl_quantiles,
        sketch_ledger_apply,
        sketch_ledger_read,
    )

    batches = [
        {"w": _np_levels([1.0, 5.0, 9.0])},
        {"w": _np_levels([2.0, 4.0]), "x": _np_levels([7.0])},
        {"x": _np_levels([3.0])},
    ]
    states = {}
    for proto in ("listing", "manifest"):
        ledger = str(tmp_path / f"ledger_{proto}")
        for bid, sk in enumerate(batches):
            assert sketch_ledger_apply(
                spark, ledger, sk, bid, protocol=proto
            )
        states[proto] = sketch_ledger_read(spark, ledger, protocol=proto)
    sa, aa = states["listing"]
    sb, ab = states["manifest"]
    assert aa == ab == 2
    assert set(sa) == set(sb)
    for g in sa:
        assert mrl_total_weight(sa[g]) == mrl_total_weight(sb[g])
        assert mrl_quantiles(sa[g], [0.5]) == mrl_quantiles(sb[g], [0.5])


def test_table_ledger_laws(spark, tmp_path):
    """The distributed table-ledger variant (round 11: data-scaled
    state written by the DataFrame writer, never the driver) obeys the
    same protocol laws as the rows ledger: commit/read round-trip,
    crash-after-commit re-delivery refused, stale id refused, pruning,
    manifest naming the newest generation, and a torn generation
    (parquet written, manifest not swapped) invisible to readers."""
    import os

    from dataintegration_csvprovider_spark.operators.sketches import (
        table_ledger_commit,
        table_ledger_read,
    )

    ledger = str(tmp_path / "tledger")
    df0, applied = table_ledger_read(spark, ledger, protocol="manifest")
    assert df0 is None and applied == -1

    s1 = spark.createDataFrame([(1, 1), (2, 1)], "node long, component long")
    s2 = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3)], "node long, component long"
    )
    assert table_ledger_commit(s1, ledger, 0, protocol="manifest")
    assert table_ledger_commit(s2, ledger, 1, protocol="manifest")
    with open(os.path.join(ledger, "MANIFEST")) as fh:
        assert fh.read().strip() == "1"
    df, applied = table_ledger_read(spark, ledger, protocol="manifest")
    assert applied == 1
    assert sorted(tuple(r) for r in df.collect()) == [(1, 1), (2, 1), (3, 3)]

    # re-delivery of batch 1 and a stale batch 0: both refused
    junk = spark.createDataFrame([(9, 9)], "node long, component long")
    assert not table_ledger_commit(junk, ledger, 1, protocol="manifest")
    assert not table_ledger_commit(junk, ledger, 0, protocol="manifest")
    df, applied = table_ledger_read(spark, ledger, protocol="manifest")
    assert applied == 1
    assert sorted(tuple(r) for r in df.collect()) == [(1, 1), (2, 1), (3, 3)]

    # pruning keeps the newest keep_generations
    s3 = spark.createDataFrame([(4, 4)], "node long, component long")
    assert table_ledger_commit(s3, ledger, 2, protocol="manifest")
    gens = sorted(d for d in os.listdir(ledger) if d.startswith("gen-"))
    assert gens == ["gen-1", "gen-2"]

    # torn write: generation 5 parquet lands but the manifest does not
    # swap — the manifest reader must stay on generation 2
    s5 = spark.createDataFrame([(5, 5)], "node long, component long")
    s5.write.mode("overwrite").parquet(f"{ledger}/gen-5")
    df, applied = table_ledger_read(spark, ledger, protocol="manifest")
    assert applied == 2
    assert sorted(tuple(r) for r in df.collect()) == [(4, 4)]
    # ...while the listing protocol (Spark wrote _SUCCESS) sees it —
    # the documented difference between the two commit points
    _, applied_listing = table_ledger_read(spark, ledger)
    assert applied_listing == 5


def test_cms_cells_match_python_hash(spark):
    # the decimal(20,0) multiply must stay exact past the bigint-overflow
    # point: 2^62 * a overflows a long for every row's multiplier
    from dataintegration_csvprovider_spark.operators.sketches import (
        CMS_P,
        CMS_ROWS,
        CMS_W,
        cms_cells,
    )

    ids = [0, 1, 2**31 - 1, 2**62]
    df = spark.createDataFrame([(x,) for x in ids], "x bigint")
    got = {
        (r["x"], r["i"], r["bucket"])
        for r in df.select("x", cms_cells(F.col("x"))).collect()
    }
    want = {
        (x, i, (x * a + b) % CMS_P % CMS_W)
        for x in ids
        for i, (a, b) in enumerate(CMS_ROWS)
    }
    assert got == want
