"""Distributed linear algebra over embedding columns: mean / covariance /
PCA / whitening — the preprocessing half of every embedding-based
curation pipeline (SemDeDup-style clustering, ANN indexing, and outlier
scoring all behave better on centered, decorrelated vectors).

Scale split (same convention as clustering/pq): the DATA passes are
distributed and touch each vector once; the EIGEN step runs on the
driver over the d x d covariance matrix (d is the embedding width — 64
in the fixture, a few thousand at most in production — so the driver
does O(d^3) ~ milliseconds while the cluster does O(n*d^2) ~ the real
work). This is the standard big-n-small-d decomposition (Spark MLlib's
RowMatrix.computePrincipalComponents makes the same call; reimplemented
here over plain DataFrames so no MLlib dependency).

Two covariance strategies, one contract:

- :func:`covariance_exact` — double ``posexplode`` + exact decimal sums.
  O(n*d^2) shuffled rows, but every sum is order-independent, so the
  result is bit-stable across engines — this is the ORACLE path and the
  fixture default.
- :func:`gram_arrow` — per-partition numpy ``X^T X`` via ``mapInArrow``
  (one d*d float64 block per partition, O(#partitions) rows to the
  driver-side reduce). O(n*d) I/O, no row explosion: the 100 TB path.
  Within-partition accumulation order is fixed (numpy sequential), but
  partition boundaries are cluster-dependent, so this path is verified
  by tolerance against the exact path, not by hash.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: decimal type for order-independent covariance accumulation; products
#: of unit-scale embedding coordinates fit easily in (28,12)
_DEC = "decimal(28,12)"


def covariance_exact(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Exact (i, j, mean_i, mean_j, cov) covariance table over an
    ``array<float>`` column, i <= j (upper triangle), population
    convention (divide by n).

    Every per-row product ``x_i * x_j`` is one IEEE double
    multiplication (exact given the inputs, identical across engines);
    the sums run through decimal so the fold order cannot change the
    result — the registry's cross-engine-hash convention. The explode
    produces O(n * d^2) rows: fine for oracle-scale d, superseded by
    :func:`gram_arrow` when n*d^2 stops being free.

    NULL vectors are ignored; all non-null vectors must share one
    length (enforced — a ragged corpus would silently skew the means).
    """
    vecs = df.select(F.col(vec_col).alias("v")).filter(F.col("v").isNotNull())
    dims = [r["d"] for r in vecs.select(F.size("v").alias("d")).distinct().collect()]
    if len(dims) > 1:
        raise ValueError(f"ragged embedding column: lengths {sorted(dims)}")

    # r13 decimal-sum migration: component sums are data-scaled, so
    # they ride the pico-unit 128-bit form (same 12-dp per-row
    # quantization as the old DECIMAL(28,12) accumulator); the /n
    # divisions stay in double (IEEE-exact both engines).
    #
    # Round-14 (r13 verdict item 8, guide §1.2 — the centroid-family
    # treatment): the old single aggregation computed THREE scale-12
    # decimal pipelines per O(n·d²) exploded row, and two of them (sx,
    # sy) were redundant d²/2-fold — group (i,j)'s sx is Σ_rows x_i,
    # independent of j, so the same d per-dimension totals were
    # re-summed ~d/2 times each through the expensive per-row decimal
    # quantize. Now: (a) the d component sums ride ONE O(n·d) explode
    # (same scale-12 accumulator over the same multiset of quantized
    # values — order-independent, so the totals are bit-identical to
    # the old per-group sx/sy), broadcast-joined back onto the product
    # table (d rows, never null keys); (b) the O(n·d²) explode keeps
    # only the product sum — one decimal pipeline per row instead of
    # three; (c) the pair generator emits ONLY the upper triangle via
    # ``slice`` (j = i + offset) instead of generating all d² rows and
    # filtering half away. Per-(i,j) n stays a per-group COUNT (native
    # long): every non-null vector yields exactly one row per kept
    # (i,j) in both forms, so n, means, and cov are all unchanged —
    # oracle hash verified at sf0.01/sf0.1.
    from ..queries.registry import exact_sum

    comp = (
        vecs.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(exact_sum(F.col("x").cast("double"), scale=12).alias("s"))
    )
    xi = vecs.select(
        F.posexplode("v").alias("i", "x"),
        F.col("v").alias("vv"),
    )
    pairs = xi.select(
        "i",
        F.col("x").cast("double").alias("x"),
        F.posexplode(
            F.slice(F.col("vv"), F.col("i") + F.lit(1), F.size("vv"))
        ).alias("dj", "y"),
    )
    sums = pairs.groupBy(
        "i", (F.col("i") + F.col("dj")).alias("j")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum(F.col("x") * F.col("y").cast("double"), scale=12).alias("sxy"),
    )
    si = comp.select(F.col("i").alias("__ci"), F.col("s").alias("sx"))
    sj = comp.select(F.col("i").alias("__cj"), F.col("s").alias("sy"))
    sums = sums.join(
        F.broadcast(si), F.col("i") == F.col("__ci")
    ).join(F.broadcast(sj), F.col("j") == F.col("__cj"))
    mx = F.col("sx") / F.col("n")
    my = F.col("sy") / F.col("n")
    return sums.select(
        F.col("i").cast("int").alias("i"),
        F.col("j").cast("int").alias("j"),
        F.col("n").cast("bigint").alias("n"),
        mx.alias("mean_i"),
        my.alias("mean_j"),
        (F.col("sxy") / F.col("n") - mx * my).alias("cov"),
    )


def gram_arrow(df: DataFrame, vec_col: str = "embedding") -> tuple[
    np.ndarray, np.ndarray, int
]:
    """(sum_vector, gram_matrix, n) over an ``array<float>`` column —
    the one-pass sufficient statistics for mean/covariance/PCA.

    Each partition emits ONE row carrying its float64 ``sum(x)`` and
    flattened ``X^T X`` (numpy, vectorized); the driver reduces the
    O(#partitions) rows. At 100 TB this is the shape you want: the scan
    is O(n*d), the shuffle is zero, the driver holds d + d^2 doubles per
    partition. Accumulation order within a partition is numpy-
    sequential; across partitions the reduce is driver-side sequential
    over a sorted partition id — deterministic for a FIXED partitioning,
    tolerance-verified against :func:`covariance_exact` by test.
    """
    src = df.select(F.col(vec_col).alias("v")).filter(F.col("v").isNotNull())
    out_schema = "pid long, n long, s array<double>, g array<double>"

    def acc(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        s = None
        g = None
        n = 0
        for batch in it:
            col = batch.column(0)
            rows = col.to_pylist()
            if not rows:
                continue
            x = np.asarray(rows, dtype=np.float64)
            # ragged embedding columns build an object array (ndim 1) or
            # a width that differs across batches; fail with a clear
            # message instead of an opaque broadcast error mid-accumulate
            if x.ndim != 2:
                raise ValueError(
                    "gram_arrow: ragged embedding column — all vectors "
                    "must have the same length (np.asarray gave "
                    f"ndim={x.ndim}); pre-validate with covariance_exact"
                )
            if s is not None and x.shape[1] != s.shape[0]:
                raise ValueError(
                    "gram_arrow: embedding length changed within a "
                    f"partition: {s.shape[0]} then {x.shape[1]}"
                )
            if s is None:
                s = np.zeros(x.shape[1])
                g = np.zeros((x.shape[1], x.shape[1]))
            s += x.sum(axis=0)
            g += x.T @ x
            n += x.shape[0]
        if n:
            yield pa.RecordBatch.from_pydict(
                {
                    "pid": [pid],
                    "n": [n],
                    "s": [s.tolist()],
                    "g": [g.reshape(-1).tolist()],
                }
            )

    rows = sorted(
        src.mapInArrow(acc, out_schema).collect(), key=lambda r: r["pid"]
    )
    if not rows:
        raise ValueError("no non-null vectors")
    d = len(rows[0]["s"])
    s = np.zeros(d)
    g = np.zeros((d, d))
    n = 0
    for r in rows:
        s += np.asarray(r["s"])
        g += np.asarray(r["g"]).reshape(d, d)
        n += r["n"]
    return s, g, n


def _sign_fix(components: np.ndarray) -> np.ndarray:
    """Deterministic eigenvector orientation: flip each component so its
    largest-|coordinate| entry is positive (ties broken by the lowest
    index, which argmax already gives). Eigenvectors are only defined up
    to sign; without this pin two runs (or two LAPACK builds) could emit
    mirrored projections."""
    out = components.copy()
    for r in range(out.shape[0]):
        if out[r, int(np.argmax(np.abs(out[r])))] < 0:
            out[r] = -out[r]
    return out


def pca_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    exact: bool = True,
) -> dict:
    """Fit a k-component PCA over an ``array<float>`` column.

    ``exact=True`` builds the covariance from :func:`covariance_exact`
    (decimal sums — bit-stable, the fixture/oracle default);
    ``exact=False`` uses the one-pass :func:`gram_arrow` sufficient
    statistics (the 100 TB path). Either way the d x d eigenproblem runs
    on the driver (``numpy.linalg.eigh`` — symmetric, ascending), and
    components get the deterministic sign pin of :func:`_sign_fix`.

    Returns ``{"mean": (d,), "components": (k, d) rows = components,
    "eigenvalues": (k,), "trace": float, "n": int}``; eigenvalues
    descend. The trace equals the total variance — the invariant tests
    pin (sum of ALL eigenvalues == trace, independent of k).
    """
    if exact:
        cov_rows = covariance_exact(df, vec_col).collect()
        d = max(r["j"] for r in cov_rows) + 1
        cov = np.zeros((d, d))
        mean = np.zeros(d)
        n = 0
        for r in cov_rows:
            cov[r["i"], r["j"]] = r["cov"]
            cov[r["j"], r["i"]] = r["cov"]
            mean[r["i"]] = r["mean_i"]
            mean[r["j"]] = r["mean_j"]
    else:
        s, g, n = gram_arrow(df, vec_col)
        d = len(s)
        mean = s / n
        cov = g / n - np.outer(mean, mean)
    if not 1 <= k <= d:
        raise ValueError(f"k={k} out of range for d={d}")
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    components = _sign_fix(evecs[:, order].T)  # (k, d)
    return {
        "mean": mean,
        "components": components,
        "eigenvalues": evals[order],
        "trace": float(np.trace(cov)),
        "n": int(cov_rows[0]["n"]) if exact else int(n),
    }


def pca_project(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    out_col: str = "pc",
    whiten: bool = False,
) -> DataFrame:
    """Project vectors onto the fitted components: ``pc[r] =
    (x - mean) . component_r`` (divided by sqrt(eigenvalue_r) when
    ``whiten`` — unit variance per axis, the SemDeDup/ANN preprocessing
    step).

    The projection is a pure Column expression — k sequential-order
    double dot products over the centered array (JVM-side, whole-stage
    codegen; no Python, no shuffle, O(k*d) per row). Components/means
    ride into the plan as array literals: O(k*d) plan size, fine for the
    driver-eigen regime this module targets (d <= a few thousand). The
    sequential fold makes the result reproducible run-to-run.
    """
    mean = model["mean"]
    comps = model["components"]
    scales = (
        np.sqrt(np.maximum(model["eigenvalues"], 1e-300))
        if whiten
        else np.ones(len(comps))
    )
    centered = F.zip_with(
        F.col(vec_col),
        F.array(*[F.lit(float(m)) for m in mean]),
        lambda x, m: x.cast("double") - m,
    )
    projections = []
    for r, comp in enumerate(comps):
        dot = F.aggregate(
            F.zip_with(
                centered,
                F.array(*[F.lit(float(c)) for c in comp]),
                lambda x, c: x * c,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        projections.append(dot / float(scales[r]))
    return df.withColumn(out_col, F.array(*projections))


def pca_variance_table(model: dict) -> list[tuple[int, float, float]]:
    """(component, eigenvalue, cumulative_variance_ratio) rows for the
    fitted model — the scree table a curation report publishes."""
    ev = model["eigenvalues"]
    trace = model["trace"]
    out = []
    cum = 0.0
    for i, v in enumerate(ev):
        cum += float(v)
        out.append((i, float(v), cum / trace if trace else math.nan))
    return out


def grouped_pca_summary(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 2,
) -> DataFrame:
    """Per-group PCA scree summary via grouped-map ``applyInPandas`` —
    the MANY-SMALL-MODELS regime (one eigh per group inside the Arrow
    worker), complementing :func:`pca_fit`'s one-big-model driver eigh:
    at 100 TB you run this shape when there are thousands of groups
    (per-domain, per-language) each small enough to fit one task, so
    the cluster parallelizes across groups and the driver never sees a
    vector.

    Returns (group, comp, eigenvalue, explained_ratio, n) for the top-k
    components of each group's population covariance. Deterministic:
    rows are sorted by ``id_col`` inside the worker before the numpy
    accumulation, so float summation order is pinned regardless of
    partitioning; groups with fewer than 2 rows are skipped (no
    covariance).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    gtype = df.schema[group_col].dataType.simpleString()
    out_schema = (
        f"{group_col} {gtype}, comp int, eigenvalue double, "
        "explained_ratio double, n bigint"
    )

    def fit(key, pdf):
        import numpy as _np
        import pandas as _pd

        if len(pdf) < 2:
            return _pd.DataFrame(
                columns=[group_col, "comp", "eigenvalue",
                         "explained_ratio", "n"]
            )
        pdf = pdf.sort_values(id_col)
        x = _np.stack(pdf[vec_col].to_numpy()).astype(_np.float64)
        cov = _np.cov(x, rowvar=False, bias=True)
        evals = _np.linalg.eigvalsh(cov)[::-1]
        trace = float(_np.trace(cov)) or float("nan")
        kk = min(k, len(evals))
        return _pd.DataFrame(
            {
                group_col: [key[0]] * kk,
                "comp": list(range(kk)),
                "eigenvalue": [float(v) for v in evals[:kk]],
                "explained_ratio": [float(v) / trace for v in evals[:kk]],
                "n": [len(pdf)] * kk,
            }
        )

    return (
        df.select(group_col, id_col, vec_col)
        .groupBy(group_col)
        .applyInPandas(fit, out_schema)
    )
