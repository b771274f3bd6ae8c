"""Deterministic corpus-mixture sampling.

Temperature sampling is how multi-source pretraining mixes are balanced
(cf. multilingual sampling in XLM-R / mT5: p_g ∝ n_g^α with α < 1
flattens the source distribution so huge domains don't drown small
ones). The engine's variant is fully deterministic — targets derive from
exact decimal-summed weights, membership from a Knuth-multiplicative
hash rank — so the *sample itself* is oracle-checkable, unlike RNG
sampling.

Scale shape: one tiny per-group aggregate broadcast back, one window
rank partitioned by group (the shuffle every stratified operation pays),
no driver-side loops. Skewed groups are bounded by their target: the
rank filter discards the bulk of a dominant domain at the shuffle
reader, not after.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

#: Knuth multiplicative hash constants (same as q_stratified_sample_det)
_KNUTH = 2654435761
_MOD = 4294967296


def temperature_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    alpha: float = 0.5,
    target_total: int = 1000,
) -> DataFrame:
    """Sample ~``target_total`` rows with per-group quotas ∝ n_g^alpha.

    Per-group target: floor(target_total · w_g / Σw) with w_g =
    round(n_g^alpha, 6), capped at n_g. The 6-dp round + exact
    DECIMAL(18,6) sum make the quota arithmetic independent of
    floating-point summation order, so two engines (or two cluster
    topologies) compute identical quotas; floor() never sits on an
    order-dependent ULP boundary. Rows are then ranked inside each group
    by (id·2654435761) mod 2³² — a fixed, uniform-ish permutation — and
    the first ``target_g`` survive. Because of floor(), the achieved
    total is ≤ target_total (short by at most one row per group).
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    w6 = F.round(F.pow(F.col("__n").cast("double"), F.lit(float(alpha))), 6)
    weighted = counts.withColumn("__w", w6.cast("decimal(18,6)"))
    total_w = weighted.agg(F.sum("__w").alias("__sumw"))
    targets = (
        weighted.crossJoin(F.broadcast(total_w))
        .withColumn(
            "__target",
            F.least(
                F.col("__n"),
                F.floor(
                    F.lit(int(target_total))
                    * F.col("__w").cast("double")
                    / F.col("__sumw").cast("double")
                ),
            ),
        )
        .select(group_col, "__target")
    )
    rank_w = W.partitionBy(group_col).orderBy(
        (F.col(id_col) * F.lit(_KNUTH)) % F.lit(_MOD), F.col(id_col)
    )
    return (
        df.join(F.broadcast(targets), group_col)
        .withColumn("__rn", F.row_number().over(rank_w))
        .filter(F.col("__rn") <= F.col("__target"))
        .drop("__rn", "__target")
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
    mod: int = 10,
    train_below: int = 8,
    valid_at: int = 8,
) -> DataFrame:
    """Assign every document a train/valid/test label such that no
    supplied near-duplicate pair straddles the eval boundary: pairs →
    connected components (large-star/small-star, O(log n) rounds) →
    every component lands in ONE split by component-id modulus
    (``component % mod``: < train_below ⇒ train, == valid_at ⇒ valid,
    else test; singletons use their own id). Deterministic, RNG-free,
    and stable under corpus growth for existing clusters.

    The PAIR SOURCE is a parameter — that is the scale story. At
    fixture scale the exact n-gram Jaccard pairs are the gate of
    record; at 100 TB exact pair generation is Σdf²-bound, so feed the
    same components the MinHash-LSH pairs
    (:func:`..dedup.minhash_near_dup_pairs` — bucketed band joins,
    never all-pairs) and accept approximate clusters; residual leakage
    is then bounded by LSH recall, which q_leakage_safe_split_lsh pins.

    Returns one row per input doc: all of ``docs``'s columns plus
    ``component`` and ``split``.
    """
    from .components import connected_components

    labels = connected_components(pairs, src=a_col, dst=b_col)
    labeled = (
        docs.join(labels, F.col(id_col) == F.col("node"), "left")
        .drop("node")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
    )
    split = (
        F.when(F.col("component") % mod < train_below, F.lit("train"))
        .when(F.col("component") % mod == valid_at, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return labeled.withColumn("split", split)


def epoch_shuffle_key(
    id_col: str = "doc_id", epoch: int = 0
):
    """Deterministic per-epoch shuffle key: the Knuth multiplicative
    hash of (id + epoch·salt) modulo 2^32 — a reproducible pseudorandom
    permutation of the corpus per epoch, computable as pure column
    arithmetic on ANY engine (no RNG state, no seed files). Training
    loaders sort (or range-partition) by this key to get a different,
    reproducible document order every epoch; two epochs' orders are
    uncorrelated because the additive salt shifts every id before the
    multiplicative mix."""
    return ((F.col(id_col) + F.lit(epoch) * 1_000_003) * _KNUTH) % _MOD


def epoch_shuffle_order(
    df: DataFrame,
    id_col: str = "doc_id",
    epoch: int = 0,
    limit: int | None = None,
) -> DataFrame:
    """Rows in epoch-``epoch`` training order. With ``limit``, Spark
    plans TakeOrderedAndProject — the top-k never materializes a global
    sort, so peeking at the head of an epoch is cheap at any corpus
    size; without it, the full sort is a range-partitioned exchange
    (scale-safe, no single-partition funnel)."""
    out = df.withColumn("__shuffle_key", epoch_shuffle_key(id_col, epoch)).orderBy(
        "__shuffle_key", id_col
    )
    if limit is not None:
        out = out.limit(limit)
    return out.drop("__shuffle_key")


def stride_mix_key(
    rank_col: str = "source_rank", weight_col: str = "mix_weight"
):
    """Stride-scheduling mix key: doc at 1-based rank r within its
    source, with source mix weight w, sorts at (r - 0.5) / w — the
    classic deterministic proportional interleave (stride scheduling):
    over any prefix of the global order, each source appears ~in
    proportion to its weight, with no RNG and no coordination. Column
    arithmetic only; IEEE-exact and engine-portable."""
    return (F.col(rank_col) - F.lit(0.5)) / F.col(weight_col)


def stride_mix_order(
    df: DataFrame,
    source_col: str,
    id_col: str,
    weights: dict[str, float],
    limit: int | None = None,
) -> DataFrame:
    """Rows in deterministic weighted-interleave order across sources —
    the pretraining data-mix schedule: rank docs within each source
    (window partitioned by source — the one shuffle, never global),
    apply :func:`stride_mix_key`, and order by (key, source, id). With
    ``limit``, the head plans as TakeOrderedAndProject."""
    w = W.partitionBy(source_col).orderBy(id_col)
    items = [x for kv in weights.items() for x in kv]
    wmap = F.create_map(*[F.lit(x) for x in items])
    ranked = (
        df.withColumn("source_rank", F.row_number().over(w).cast("double"))
        .withColumn("mix_weight", wmap[F.col(source_col)])
        .filter(F.col("mix_weight").isNotNull())
    )
    out = ranked.withColumn("mix_key", stride_mix_key()).orderBy(
        "mix_key", source_col, id_col
    )
    if limit is not None:
        out = out.limit(limit)
    return out.drop("source_rank", "mix_weight")


def apportion_mixture(
    df: DataFrame,
    weights: dict[str, float],
    total: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    order_col: str | None = None,
) -> DataFrame:
    """Deterministic largest-remainder (Hamilton) apportionment of a
    document budget across mixture groups — the static form of domain
    reweighting every pretraining mix needs (hand-tuned weights, or the
    output of a DoReMi-style optimization): given target ``weights`` per
    group and a ``total`` document budget, compute integer per-group
    quotas that sum EXACTLY to the budget, then select that many
    documents per group by a deterministic order.

    Quota arithmetic: weights normalize to proportions; each group gets
    ``floor(p_g * total)`` seats, and the leftover seats (< #groups) go
    to the largest fractional remainders (ties broken by group name) —
    the classic largest-remainder method, chosen over divisor methods
    because it is one window expression, not an iterative search. A
    quota larger than the group's population is capped (the shortfall is
    reported, not silently redistributed — redistribution is a policy
    choice the caller should make explicitly by re-weighting).

    Selection order within a group is ``order_col`` DESC (e.g. a quality
    score) with ``id_col`` ASC as the tie-break, or plain ``id_col`` ASC
    when no order column is given — deterministic either way, so the
    selected SET (not just its size) is oracle-checkable.

    Scale shape: one group-keyed count (tiny result), the weights join
    is a broadcast of a handful of rows, quota assignment is a window
    over #groups rows on the driver-side-sized aggregate (never the
    corpus), and the final selection is one group-partitioned
    row_number window — the same single shuffle any stratified operator
    pays. Dominant groups are cut at the shuffle reader by the rank
    filter.

    Returns the selected rows of ``df`` plus (quota, n_available) —
    sum(quota) == min(total, Σ capped) by construction.
    """
    if total < 0:
        raise ValueError("total must be >= 0")
    if not weights:
        raise ValueError("weights must be non-empty")
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(weights.items())],
        f"{group_col} string, __w double",
    )
    wsum = sum(float(v) for v in weights.values())
    if wsum <= 0:
        raise ValueError("weights must sum to a positive value")

    counts = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_available")
    )
    # inner join: groups absent from the weight map get no quota, and
    # weighted groups absent from the data contribute nothing
    g = counts.join(F.broadcast(wdf), group_col)
    quota_raw = F.col("__w") / F.lit(wsum) * F.lit(float(total))
    g = g.withColumn("__base", F.floor(quota_raw).cast("bigint")).withColumn(
        "__rem", quota_raw - F.floor(quota_raw)
    )
    # leftover seats across the (tiny) group table; windows over an
    # unpartitioned frame are fine here — #groups rows, not the corpus
    w_all = W.partitionBy(F.lit(1))
    w_rank = W.partitionBy(F.lit(1)).orderBy(
        F.col("__rem").desc(), F.col(group_col)
    )
    g = (
        g.withColumn(
            "__leftover", F.lit(total) - F.sum("__base").over(w_all)
        )
        .withColumn("__rn", F.row_number().over(w_rank))
        .withColumn(
            "quota",
            F.least(
                F.col("__base")
                + (F.col("__rn") <= F.col("__leftover")).cast("bigint"),
                F.col("n_available"),
            ),
        )
        .select(group_col, "n_available", "quota")
    )

    order = (
        [F.col(order_col).desc(), F.col(id_col).asc()]
        if order_col
        else [F.col(id_col).asc()]
    )
    w_sel = W.partitionBy(group_col).orderBy(*order)
    return (
        df.join(F.broadcast(g), group_col)
        .withColumn("__pick", F.row_number().over(w_sel))
        .filter(F.col("__pick") <= F.col("quota"))
        .drop("__pick")
    )


def prototype_prune(
    df: DataFrame,
    bucket_col: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_frac: float = 0.75,
) -> DataFrame:
    """Prototype-based data pruning (Sorscher et al. 2022, "Beyond
    neural scaling laws"): within each cluster, rank examples by
    distance to the cluster centroid and KEEP the hardest (farthest)
    ``keep_frac`` — when data is abundant, the most prototypical
    (centroid-hugging, redundant) examples teach the least, so they are
    the ones to drop.

    ``bucket_col`` is the cluster assignment and is caller-supplied so
    the clustering stays pluggable: production feeds the trained k-means
    assignment (operators/clustering.py); the oracle query feeds a
    deterministic sign-pattern bucket so DuckDB can replay the whole
    pipeline.

    Arithmetic contract: centroids are per-dimension decimal-summed
    means cast to double (order-independent) and PINNED at 9 decimals —
    raw float32 coordinates can land on exact decimal-cast midpoints
    where engines round differently (see q_embedding_covariance), and an
    unpinned 1e-15 centroid wobble would propagate into every distance;
    with the pin, each squared-distance term is the same IEEE double on
    every engine and the decimal(28,12) accumulation makes the score —
    and therefore the RANK — exactly engine-identical. Rank ties break
    on ``id_col``.

    Scale shape: one groupBy(bucket) aggregate with d sum columns
    (map-side combine; centroid table is #buckets x d — broadcast), one
    broadcast join back, one window rank per bucket (the shuffle every
    per-cluster operation pays; cluster sizes are the skew bound —
    k-means assignment with adaptive k keeps them ~500, see
    similarity.py _ivf_k).

    Returns (id, bucket, n_bucket, dist2, keep_rank, kept) for every
    input row — the audit table; filter ``kept`` for the pruned corpus.
    """
    if not 0 < keep_frac <= 1:
        raise ValueError("keep_frac must be in (0, 1]")
    d = df.select(F.size(vec_col).alias("d")).filter(
        F.col("d").isNotNull()
    ).distinct().collect()
    if len(d) == 0:
        # empty-input tolerance (the registry convention): empty audit
        # table with the output schema, not a crash; id/bucket types
        # mirror the caller's so empty and non-empty paths union cleanly
        id_t = df.schema[id_col].dataType.simpleString()
        b_t = df.schema[bucket_col].dataType.simpleString()
        return df.sparkSession.createDataFrame(
            [],
            f"{id_col} {id_t}, bucket {b_t}, n_bucket bigint, "
            "dist2 double, keep_rank bigint, kept boolean",
        )
    if len(d) != 1:
        raise ValueError(f"embedding lengths not unique: {[r['d'] for r in d]}")
    d = d[0]["d"]

    # r13 decimal-sum migration: per-bucket component sums are
    # data-scaled — pico-unit 128-bit form (same 12-dp per-row
    # quantization as the old DECIMAL(28,12) accumulator).
    # Round-13 optimization (guide §1.2): d inline scale-12 exact sums put d
    # decimal aggregation buffers in one hash aggregate; posexplode to
    # (bucket, pos, v) rows + ONE scale-12 exact_sum + a max/when pivot runs the
    # identical exact pico-unit sums (bit-equal — same integers, same
    # single int->double) with one buffer, measured ~2.5x faster on the
    # 64-dim sf0.1 shape. __n (count incl. any null-vector rows) comes
    # from a separate tiny base aggregate because posexplode drops
    # null/empty arrays, exactly like getItem's null exclusion.
    from ..queries.registry import exact_sum

    cnt = df.groupBy(bucket_col).agg(F.count(F.lit(1)).alias("__n"))
    ex = df.select(
        bucket_col, F.posexplode(vec_col).alias("__pos", "__v")
    )
    per = ex.groupBy(bucket_col, "__pos").agg(
        exact_sum(F.col("__v").cast("double"), scale=12).alias("__s")
    )
    # r13 follow-up (guide §7.3 — driver analysis time is real cost):
    # the d-column max/when pivot put >1s of each invocation into
    # Catalyst analysis of the ~3d-expression tree. ONE map_from_entries
    # aggregate + d trivial key lookups carries the identical per-pos
    # sums (exact lookup by pos — no ordering assumption).
    piv = per.groupBy(bucket_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct("__pos", "__s"))
        ).alias("__m")
    )
    # r14 (ADVICE): null-safe cnt/piv join — a null bucket must match
    # itself across the two aggregates (see q_embedding_centroid)
    piv = piv.withColumnRenamed(bucket_col, "__pbk")
    cent = cnt.join(
        piv, F.col(bucket_col).eqNullSafe(F.col("__pbk")), "left"
    ).select(
        bucket_col,
        "__n",
        *[
            F.round(F.col("__m")[F.lit(i)] / F.col("__n"), 9).alias(
                f"__c{i}"
            )
            for i in range(d)
        ],
    )
    centroid_arr = F.array(*[F.col(f"__c{i}") for i in range(d)])
    joined = df.join(
        F.broadcast(
            cent.select(
                bucket_col, "__n", centroid_arr.alias("__centroid")
            )
        ),
        bucket_col,
    )
    # dist2 accumulates as exact FLOOR-scaled picounits: each squared
    # term is a bit-identical IEEE double on both engines (float32
    # coordinate minus the bit-probed-identical round-9 centroid), and
    # FLOOR(term * 1e12) is midpoint-FREE — unlike a decimal(_,12) cast,
    # which rounds and can land exactly on a tie where Spark goes
    # half-up and DuckDB half-even (measured on the round-12 sf1
    # fixture: per-term ties drifted dist2 by 1e-12s, and one value sat
    # close enough to a 0.5e-9 boundary that even ROUND(x, 9) reported
    # a different last digit). Integer sums are order-independent and
    # engine-exact; the scaled total is <= 64e12, far inside bigint and
    # exact in the final int->double conversion.
    dist2 = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.col("__centroid"),
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + F.floor(v * F.lit(1e12)).cast("long"),
    ).cast("double") / F.lit(1e12)
    w = W.partitionBy(bucket_col).orderBy(
        F.col("__dist2").desc(), F.col(id_col).asc()
    )
    ranked = (
        joined.withColumn("__dist2", dist2)
        .withColumn("__rank", F.row_number().over(w))
    )
    return ranked.select(
        F.col(id_col),
        F.col(bucket_col).alias("bucket"),
        F.col("__n").cast("bigint").alias("n_bucket"),
        F.col("__dist2").alias("dist2"),
        F.col("__rank").cast("bigint").alias("keep_rank"),
        (
            F.col("__rank")
            <= F.ceil(F.col("__n") * F.lit(float(keep_frac))).cast("bigint")
        ).alias("kept"),
    )


def negative_samples(
    df: DataFrame,
    id_col: str,
    k: int = 3,
    salt: int = 0,
) -> DataFrame:
    """Deterministic in-batch negative sampling for contrastive /
    retrieval training: for every anchor row, pick ``k`` pseudo-random
    other rows as negatives — RNG-free (the registry convention), so the
    pair set is reproducible across runs, engines, and resumes.

    Mechanics: rows get a dense 0..N-1 index from the distributed
    prefix sum over ``id_col`` (no single-partition window), and
    negative j of anchor index i is the row at index

        (i + 1 + ((i * K + j * K2 + salt) mod (N - 1))) mod N

    — a Knuth-multiplicative offset in [1, N-1], so a row never draws
    itself and the k draws for one anchor are spread deterministically.
    One broadcast-joinable index table, one equi-join on the target
    index: O(k*N) output rows, no pairwise blowup. Collisions among a
    row's k negatives are possible (sampling WITH replacement across j),
    exactly like hash-bucketed in-batch negatives in production trainers.

    Returns (anchor=id, j, neg=id of the drawn negative). With N < 2
    there is nothing to draw: the result is empty (guarded — no
    modulo-by-zero under ANSI mode). The offset product is computed in
    decimal(38,0) so ``i * K`` stays exact far past the ~3.4e9-row point
    where a bigint multiply would wrap (decimal headroom: 1e19 rows).
    """
    from .scale import distributed_cumsum

    if k < 1:
        raise ValueError("k must be >= 1")
    ones = df.select(F.col(id_col).alias("__id"), F.lit(1).alias("__one"))
    idx = distributed_cumsum(ones, "__id", "__one", "__rank").select(
        F.col("__id"),
        (F.col("__rank") - 1).alias("__idx"),
    )
    tot = idx.agg((F.max("__idx") + 1).cast("bigint").alias("__n"))
    anchors = (
        idx.crossJoin(F.broadcast(tot))
        # N < 2: no other row exists to draw — empty result, and the
        # (N - 1) modulus below never sees zero
        .filter(F.col("__n") >= 2)
        .select(
            "__id", "__idx", "__n",
            F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("j"),
        )
    )
    # decimal(20,0) x decimal(10,0) -> decimal(31,0): exact, under the
    # 38-digit cap, so the multiply can never silently wrap or round
    targets = anchors.withColumn(
        "__tgt",
        (
            F.col("__idx")
            + 1
            + F.pmod(
                F.col("__idx").cast("decimal(20,0)")
                * F.lit(_KNUTH).cast("decimal(10,0)")
                + F.col("j").cast("decimal(20,0)")
                * F.lit(2246822519).cast("decimal(10,0)")
                + F.lit(salt).cast("decimal(20,0)"),
                (F.col("__n") - 1).cast("decimal(20,0)"),
            ).cast("bigint")
        )
        % F.col("__n"),
    )
    neg = idx.select(
        F.col("__idx").alias("__tgt"), F.col("__id").alias("neg")
    )
    return (
        targets.join(neg, "__tgt")
        .select(
            F.col("__id").alias("anchor"),
            F.col("j").cast("int").alias("j"),
            "neg",
        )
    )


def budget_curation(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: str,
    score_col: str,
    budgets: dict[str, int],
) -> DataFrame:
    """Quality-first selection under a per-group token budget — the
    data-constrained curation step (cf. Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models": when compute allows more
    tokens than the best data provides, you fill each source's budget in
    quality order): rank each group's rows by (score desc, id), keep a
    row iff the running token total THROUGH that row still fits the
    group's budget.

    Greedy-prefix semantics: the kept set is the longest quality-ordered
    prefix whose cumulative ``weight_col`` stays <= budget; one
    over-budget document blocks the prefix there (no skip-and-continue
    knapsack — deterministic, order-respecting, and what budgeted
    sampling actually does in practice).

    Scale shape: one window shuffle partitioned by group (rank and
    running sum share it), a broadcast budget map, a filter. No global
    window, no driver loops; group skew is bounded by the groups
    themselves (sources), the usual mixture-weighting regime.

    Returns the kept rows with ``keep_rank`` and ``cum_weight`` audit
    columns.
    """
    if not budgets:
        raise ValueError("budgets must be non-empty")
    items = [x for kv in budgets.items() for x in (kv[0], int(kv[1]))]
    bmap = F.create_map(*[F.lit(x) for x in items])
    w = W.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    ranked = (
        df.withColumn("keep_rank", F.row_number().over(w).cast("bigint"))
        .withColumn(
            "cum_weight",
            F.sum(weight_col)
            .over(w.rowsBetween(W.unboundedPreceding, 0))
            .cast("bigint"),
        )
        .withColumn("__budget", bmap[F.col(group_col)])
    )
    return (
        ranked.filter(
            F.col("__budget").isNotNull()
            & (F.col("cum_weight") <= F.col("__budget"))
        )
        .drop("__budget")
    )
