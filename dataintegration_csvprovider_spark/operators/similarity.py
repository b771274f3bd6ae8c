"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline: one narrow pass computing
the score (JVM array expressions — no Python, no shuffle) plus a global
top-k (TakeOrderedAndProject, no full sort). The scale path is IVF
(inverted-file) partitioning: assign every vector to its nearest
centroid once, then search only the query's closest ``n_probe``
partitions — the standard recall/latency trade (cf. FAISS IVF design).

All arithmetic runs in double with sequential fold order so results are
reproducible and match the DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..queries.registry import exact_sum


def _dot(a: Column, b: Column) -> Column:
    """Sequential-order double dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity_expr(a: Column, b: Column) -> Column:
    """cosine(a, b) as a pure Column expression (double). NULL when either
    vector is NULL or zero-norm (cosine undefined) — try_divide, not /,
    because ANSI mode turns the 0/0 of a single degenerate vector into a
    job-killing exception otherwise."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b)).cast("double")


def _with_valid_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Drop rows whose vector is NULL or all-zero: cosine is undefined
    for them, and one such row must not crash or pollute a 100 TB job.
    The filter is a narrow map-side pass fused into the scoring stage."""
    sq = F.aggregate(
        F.transform(F.col(vec_col), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return df.filter(F.col(vec_col).isNotNull() & (sq > 0.0))


def knn_bruteforce(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector. Ties broken
    by id for determinism."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = _with_valid_vectors(df, vec_col).withColumn(
        "cosine", cosine_similarity_expr(F.col(vec_col), q)
    )
    return (
        scored.orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, "cosine")
    )


def assign_ivf_partitions(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_vec_col: str = "centroid",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine, min id on
    ties). Centroids are broadcast — the assignment is a map-side pass."""
    joined = df.crossJoin(F.broadcast(centroids))
    sim = cosine_similarity_expr(F.col(vec_col), F.col(centroid_vec_col))
    scored = joined.withColumn("__sim", sim)
    best = scored.groupBy(id_col).agg(
        F.max_by(
            F.struct(F.col(centroid_id_col), F.col(vec_col)),
            # lexicographic: highest sim, then lowest centroid id
            F.struct(F.col("__sim"), (-F.col(centroid_id_col)).cast("double")),
        ).alias("__best")
    )
    return best.select(
        id_col,
        F.col(f"__best.{centroid_id_col}").alias(centroid_id_col),
        F.col(f"__best.{vec_col}").alias(vec_col),
    )


def knn_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k for EVERY query vector in one pass — the batch
    retrieval shape (N queries amortize one corpus scan, instead of N
    scans). Returns (query_id, vec_id, cosine, rank), rank 1..k per
    query, ties broken by vec_id.

    Plan: the query matrix broadcasts (collected driver-side — batch
    retrieval means queries are small by definition; shard the query
    set across jobs otherwise), each corpus partition scores all
    queries against its Arrow batches and keeps only its LOCAL top-k
    per query — a lossless prune (any global top-k row is top-k in its
    own partition), so the shuffle carries ≤ k·partitions rows per
    query into the final per-query window rank, never the corpus.

    Same determinism contract as :func:`_bucket_pair_scores`: float64
    widening + dimension-sequential accumulation, bit-equal to the
    expression fold / a SQL oracle's list_sum."""
    import numpy as np
    import pandas as pd

    qrows = queries.select(query_id_col, query_vec_col).collect()
    if not qrows:
        raise ValueError("knn_batch needs at least one query vector")
    q_ids = [r[0] for r in qrows]
    # mirror _with_valid_vectors for the query side: a zero-norm or
    # non-finite query would yield inf/NaN cosines, and Spark's window
    # rank orders NaN ABOVE every double, so garbage rows would occupy
    # ranks 1..k — reject loudly instead (knn_bruteforce's try_divide
    # NULLs sort last; this is the batch-side equivalent of that
    # contract)
    for r in qrows:
        v = r[1]
        if v is None or len(v) == 0:
            raise ValueError(f"knn_batch: empty query vector for {r[0]!r}")
        arr = np.asarray(v, dtype=np.float64)
        if not np.isfinite(arr).all() or not arr.any():
            raise ValueError(
                f"knn_batch: zero-norm or non-finite query vector for {r[0]!r}"
            )
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    nq, d = Q.shape
    q_sq = np.zeros(nq)
    for i in range(d):
        q_sq = q_sq + Q[:, i] * Q[:, i]
    q_norms = np.sqrt(q_sq)

    qid_type = queries.schema[query_id_col].dataType.simpleString()
    id_type = df.schema[id_col].dataType.simpleString()
    mid_schema = f"{query_id_col} {qid_type}, {id_col} {id_type}, cosine double"

    src = _with_valid_vectors(df, vec_col).select(id_col, vec_col)

    def score(batches):
        best: dict[int, pd.DataFrame] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            m = len(X)
            sq = np.zeros(m)
            for i in range(d):
                sq = sq + X[:, i] * X[:, i]
            norms = np.sqrt(sq)
            acc = np.zeros((m, nq))
            for i in range(d):
                acc = acc + np.multiply.outer(X[:, i], Q[:, i])
            cos = acc / np.multiply.outer(norms, q_norms)
            ids = pdf[id_col].to_numpy()
            for qi in range(nq):
                part = pd.DataFrame(
                    {id_col: ids, "cosine": cos[:, qi]}
                )
                prev = best.get(qi)
                if prev is not None:
                    part = pd.concat([prev, part], ignore_index=True)
                # local lossless prune: keep k best (ties by id) per query
                part = part.sort_values(
                    ["cosine", id_col], ascending=[False, True]
                ).head(k)
                best[qi] = part
        for qi, part in best.items():
            out = part.copy()
            out.insert(0, query_id_col, [q_ids[qi]] * len(part))
            yield out

    from pyspark.sql import Window

    scored = src.mapInPandas(score, mid_schema)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def knn_ivf(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    num_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: IVF bucketing, probing the ``n_probe``
    partitions nearest the query. ``centroids`` (columns ``centroid_id``,
    ``centroid``) supplies trained partition centers — e.g.
    :func:`trained_ivf_centroids` runs k-means over the corpus for
    balanced partitions (better recall at the same n_probe). Without it,
    deterministic seed centroids (the ``num_centroids`` lowest-id
    vectors) keep the operator dependency-free.

    At scale the assignment is precomputed and the probe prunes to
    n_probe/num_centroids of the data; here both run in one job."""
    df = _with_valid_vectors(df, vec_col)
    if centroids is None:
        centroids = (
            df.orderBy(F.col(id_col))
            .limit(num_centroids)
            .select(
                F.col(id_col).alias("centroid_id"),
                F.col(vec_col).alias("centroid"),
            )
        )
    assigned = assign_ivf_partitions(df, centroids, vec_col, id_col)

    q = F.array(*[F.lit(float(v)) for v in query_vec])
    probe_ids = [
        r.centroid_id
        for r in centroids.withColumn(
            "__qsim", cosine_similarity_expr(F.col("centroid"), q)
        )
        .orderBy(F.col("__qsim").desc(), F.col("centroid_id"))
        .limit(n_probe)
        .collect()
    ]
    candidates = assigned.filter(F.col("centroid_id").isin(probe_ids))
    scored = candidates.withColumn(
        "cosine", cosine_similarity_expr(F.col(vec_col), q)
    )
    return (
        scored.orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, "cosine")
    )


def _hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (splitmix-style hash of
    (plane, coord) → [-1, 1)) — reproducible across runs and engines
    without shipping a random state."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            x = (p * 1_000_003 + d) * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 31
            x = (x * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
            row.append((x / 2**63) - 1.0)
        planes.append(row)
    return planes


def rh_lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane (SimHash-for-vectors) bucket id: bit i = sign of
    dot(vec, plane_i). Vectors at small cosine distance collide with
    probability 1 - theta/pi per bit (Charikar '02)."""
    bucket = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(v)) for v in plane])
        bit = F.when(_dot(vec, p) >= 0, F.lit(1 << i).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        bucket = bucket + bit
    return bucket


def knn_lsh(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH: candidates are the
    vectors whose bucket is within hamming distance 1 of the query's
    (multi-probe), scored exactly. The LSH-bucketed alternative to
    :func:`knn_ivf` — no centroid pass, pure per-row hashing, so the
    bucket assignment is a map-only narrow stage."""
    dim = len(query_vec)
    planes = _hyperplanes(dim, n_planes)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    bucketed = _with_valid_vectors(df, vec_col).withColumn(
        "__bucket", rh_lsh_bucket(F.col(vec_col), planes)
    )

    # driver-side: the query's bucket and its hamming-1 neighbors
    import math  # noqa: F401

    qbits = 0
    for i, plane in enumerate(planes):
        dot = sum(float(a) * float(b) for a, b in zip(query_vec, plane))
        if dot >= 0:
            qbits |= 1 << i
    probes = [qbits] + [qbits ^ (1 << i) for i in range(n_planes)]

    cands = bucketed.filter(F.col("__bucket").isin(probes))
    scored = cands.withColumn("cosine", cosine_similarity_expr(F.col(vec_col), q))
    return (
        scored.orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, "cosine")
    )


def assign_ivf_partitions_multi(
    df: DataFrame,
    centroids: DataFrame,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_vec_col: str = "centroid",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Multi-probe IVF assignment: each vector lands in its ``n_probe``
    nearest partitions (highest cosine, lowest centroid id on ties), so a
    pair sitting on a partition boundary still shares at least one
    partition with high probability. One row per (vector, probe);
    broadcast centroids, then a per-id window rank (distributed — the
    window partitions by the vector id)."""
    from pyspark.sql import Window

    joined = df.crossJoin(F.broadcast(centroids))
    sim = cosine_similarity_expr(F.col(vec_col), F.col(centroid_vec_col))
    w = Window.partitionBy(id_col).orderBy(
        F.col("__sim").desc(), F.col(centroid_id_col)
    )
    return (
        joined.withColumn("__sim", sim)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_probe)
        .select(id_col, centroid_id_col, vec_col)
    )


#: adaptive-IVF partition sizing: target vectors per partition. With k =
#: ceil(n / target), within-partition pair work is k·(n/k)² = n·target —
#: LINEAR in corpus size. A fixed k would be n²/k, quadratic: measured
#: 15.8× wall at 10× data before this (tools/scale_probe.py --family
#: similarity). 500 is conservative next to FAISS practice (cells of
#: ~60-250 vectors at 1M scale) — recall-friendly at n_probe=2.
IVF_TARGET_BUCKET = 500
IVF_MIN_CENTROIDS = 16


def _ivf_k(n: int, target_bucket: int = IVF_TARGET_BUCKET) -> int:
    """Centroid count for an n-vector corpus: enough partitions to keep
    ~target_bucket vectors in each, never fewer than IVF_MIN_CENTROIDS
    (k-means under ~16 centers loses blocking power on small corpora)."""
    return max(IVF_MIN_CENTROIDS, -(-n // target_bucket))


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_centroids: int | None = None,
    centroids: DataFrame | None = None,
    n_probe: int = 2,
    train: bool = True,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine >= threshold), blocked by IVF
    partition: only vectors sharing a partition are compared. Equi-join
    on centroid_id — no cross join, and every emitted pair is scored
    exactly (precision is 1.0 by construction; blocking only affects
    recall).

    Defaults are the scale-safe configuration: ``train=True`` fits
    k-means partition centers (:func:`trained_ivf_centroids`) so real
    clustered corpora get balanced partitions — seed centroids (first-k
    by id) put most of a clustered corpus into one bucket, recreating
    the quadratic blowup blocking exists to avoid — and ``n_probe=2``
    multi-probe assignment catches boundary pairs that straddle two
    partitions. Pass ``centroids`` to reuse a trained snapshot across
    jobs (train once per corpus version), ``train=False`` for the
    dependency-free seed-centroid behavior. Recall vs the exact answer
    is pinned by the q_embedding_neardup_trained gate.

    ``num_centroids=None`` (default) sizes k adaptively as
    ceil(n / :data:`IVF_TARGET_BUCKET`): fixed-size partitions make the
    within-partition pair work k·(n/k)² = n·target — linear in corpus
    size — where any FIXED k is n²/k, quadratic (measured 15.8× wall at
    10× data with k=16 before this). The adaptive count() runs a real
    scan action (it sits above the valid-vector filter, so parquet
    footer metadata cannot answer it) — but ONLY when ``centroids`` is
    not supplied: the snapshot-reuse path never consumes k, so it pays
    no count. Pass an explicit k to skip the count on the training path
    too.

    Memory contract: pair scoring materializes ONE IVF partition's
    vectors per executor task (``applyInPandas`` keyed by centroid_id —
    the score matrix is blocked at 2048², but the group's vectors are
    not). The adaptive default keeps groups at ~IVF_TARGET_BUCKET·n_probe
    vectors, far under any executor budget; a caller passing a SMALL
    explicit ``num_centroids`` (or a small trained ``centroids`` set) on
    a large corpus concentrates ~n·n_probe/k vectors in one pandas frame
    — at 1M 64-float vectors and k=16 that is ~64 MB·n_probe per group
    and grows linearly from there. Keep k ≳ n/500 (the adaptive rule)
    when overriding."""
    df = _with_valid_vectors(df, vec_col)
    if centroids is None:
        if num_centroids is None:
            n = df.count()
            if n == 0:
                # k-means cannot train on nothing, and an empty corpus
                # has no pairs — an empty source partition must not kill
                # the job
                id_type = df.schema[id_col].dataType.simpleString()
                return df.sparkSession.createDataFrame(
                    [], f"a {id_type}, b {id_type}, cosine double"
                )
            num_centroids = _ivf_k(n)
        if train:
            centroids = trained_ivf_centroids(
                df, k=num_centroids, vec_col=vec_col, id_col=id_col
            )
        else:
            centroids = (
                df.orderBy(F.col(id_col))
                .limit(num_centroids)
                .select(
                    F.col(id_col).alias("centroid_id"),
                    F.col(vec_col).alias("centroid"),
                )
            )
    assigned = assign_ivf_partitions_multi(
        df, centroids, n_probe=n_probe, vec_col=vec_col, id_col=id_col
    )
    pairs = _bucket_pair_scores(
        assigned, threshold, vec_col=vec_col, id_col=id_col
    )
    return (
        # multi-probe can surface the same pair from two shared
        # partitions; the groupBy dedupes (cosine is identical per copy)
        pairs.groupBy("a", "b").agg(F.min("cosine").alias("cosine"))
    )


def _bucket_pair_scores(
    assigned: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Score every within-partition pair with one Arrow batch per IVF
    partition (``applyInPandas`` keyed by centroid_id) instead of a
    self-join + per-pair HOF cosine: the join shape materializes two
    64-float arrays per candidate row and evaluates the fold interpreted
    (HOFs get no codegen) — measured ~100k pairs/s across 32 cores,
    i.e. 90 s for one 6k-vector corpus. The batch path does the same
    arithmetic vectorized: ~2 orders of magnitude faster, no pair-row
    shuffle (the only shuffle is the groupBy on centroid_id, which the
    assignment already keys).

    Determinism contract (same as :func:`arrow_score`): float32 widens
    to float64 before any arithmetic, and dot/norm accumulate
    DIMENSION-SEQUENTIALLY (vectorized across pairs, ``acc += x_i*y_i``
    across dims) — bit-equal to the ``aggregate``-fold expression
    :func:`cosine_similarity_expr` compiles to, so swapping backends
    can never flip a threshold comparison. Block-pair loops bound the
    per-task score matrix at 2048² float64 (~32 MB) even on a skewed
    partition."""
    import numpy as np
    import pandas as pd

    id_type = assigned.schema[id_col].dataType.simpleString()
    out_schema = f"a {id_type}, b {id_type}, cosine double"
    thr = float(threshold)
    block = 2048

    id_dtype = "int64" if id_type in ("bigint", "int", "smallint") else "object"

    def _empty():
        return pd.DataFrame(
            {
                "a": pd.Series([], dtype=id_dtype),
                "b": pd.Series([], dtype=id_dtype),
                "cosine": pd.Series([], dtype="float64"),
            }
        )

    def score(key, pdf):  # no hints: applyInPandas infers from schema arg
        m = len(pdf)
        if m < 2:
            return _empty()
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        X = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col].iloc[order]]
        )
        d = X.shape[1]
        sq = np.zeros(m)
        for i in range(d):
            sq = sq + X[:, i] * X[:, i]
        norms = np.sqrt(sq)
        parts = []
        for bi in range(0, m, block):
            A = X[bi : bi + block]
            na = norms[bi : bi + block]
            for bj in range(bi, m, block):
                B = X[bj : bj + block]
                nb = norms[bj : bj + block]
                acc = np.zeros((len(A), len(B)))
                for i in range(d):
                    acc = acc + np.multiply.outer(A[:, i], B[:, i])
                cos = acc / np.multiply.outer(na, nb)
                mask = cos >= thr
                if bi == bj:
                    mask &= np.triu(np.ones(mask.shape, dtype=bool), k=1)
                if mask.any():
                    ai, bx = np.nonzero(mask)
                    parts.append(
                        pd.DataFrame(
                            {
                                "a": ids[bi + ai],
                                "b": ids[bj + bx],
                                "cosine": cos[ai, bx],
                            }
                        )
                    )
        return pd.concat(parts, ignore_index=True) if parts else _empty()

    return (
        assigned.select("centroid_id", id_col, vec_col)
        .groupBy("centroid_id")
        .applyInPandas(score, out_schema)
    )


def trained_ivf_centroids(
    df: DataFrame,
    k: int = 16,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """k-means-trained IVF partition centers (columns ``centroid_id``,
    ``centroid``) — run once per corpus snapshot, reuse across queries.
    Composes :mod:`.clustering`'s Lloyd loop with the IVF probe path:
    trained centers balance partition sizes, so a fixed ``n_probe``
    scans a predictable data fraction with better recall than seed
    vectors."""
    from .clustering import _kmeans_full

    # r13 (guide §2.4): the assignment already carries the widened
    # vector — aggregating straight off it removes the old source
    # re-scan + id-keyed shuffle join that only re-attached identical
    # values (the Arrow round trip is bit-exact for float64)
    assigned, _ = _kmeans_full(
        _with_valid_vectors(df, vec_col),
        vec_col=vec_col,
        id_col=id_col,
        k=k,
        n_iter=n_iter,
    )
    per_dim = (
        assigned.select("cluster", F.posexplode("v").alias("dim", "x"))
        .groupBy("cluster", "dim")
        .agg(
            # data-scaled component mean: exact micros sum over rows
            (exact_sum(F.col("x")) / F.count(F.lit(1))).alias("m")
        )
    )
    return (
        per_dim.groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("dim", "m"))
                ),
                lambda s: s["m"],
            ).alias("centroid")
        )
        .select(F.col("cluster").cast("bigint").alias("centroid_id"), "centroid")
    )


def arrow_score(
    df: DataFrame,
    weights: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Linear model scoring over an embedding column via ``mapInArrow`` —
    the Arrow-native batch path (no pandas materialization: the list
    column's flat float32 buffer is viewed as a numpy matrix
    zero-copy-ish and scored vectorized across rows).

    Determinism contract: the margin is accumulated dimension-by-
    dimension (``acc += w_i * x_i`` — vectorized across the batch,
    sequential across dims), which reproduces the sequential fold a SQL
    ``list_sum(list_transform(...))`` computes, so the scores are
    bit-equal to a SQL oracle. ``np.dot`` would NOT be (BLAS reorders
    the summation). Elements are widened float32→float64 before any
    arithmetic, matching SQL's CAST(x AS DOUBLE).

    At scale this is one narrow map stage: no shuffle, no Python-row
    boundary, one Arrow batch in flight per core.
    """
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import types as T

    dim = len(weights)
    w = [float(x) for x in weights]
    src = df.select(id_col, vec_col)

    def score(batches):
        for batch in batches:
            ids = batch.column(id_col)
            lst = batch.column(vec_col)
            flat = np.asarray(lst.flatten(), dtype=np.float64)
            x = flat.reshape(len(lst), dim)
            acc = np.zeros(len(lst), dtype=np.float64)
            for i in range(dim):
                acc = acc + w[i] * x[:, i]
            yield pa.record_batch(
                [
                    ids,
                    pa.array(acc, type=pa.float64()),
                    pa.array(acc > 0.0),
                ],
                names=[id_col, "margin", "positive"],
            )

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("margin", T.DoubleType()),
            T.StructField("positive", T.BooleanType()),
        ]
    )
    return src.mapInArrow(score, out_schema)
