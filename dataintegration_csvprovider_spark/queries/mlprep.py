"""Feature-engineering prep queries: correlation matrix, min-max
scaling, deterministic dataset splits.

The tabular-ML companions to the text/embedding prep in llm.py — each a
single-pass aggregation shape with a full SQL oracle. All arithmetic is
decimal-accumulated sums + rational expressions + sqrt (IEEE-exact), so
the engines agree bit-for-bit (see the determinism rules in the
queries/registry.py module docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import exact_sum, register, sql_exact_sum

_DEC = "decimal(28,6)"
_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    "q_corr_matrix",
    oracle="""
    WITH m AS (
      SELECT COUNT(*) AS n,
             {sums}
      FROM lineitem
    )
    SELECT a_name, b_name,
           (n * sab - sa * sb)
             / (sqrt(greatest(n * saa - sa * sa, 1e-12))
                * sqrt(greatest(n * sbb - sb * sb, 1e-12))) AS corr
    FROM (
      {pairs}
    ) p
    """.format(
        # r13 decimal-sum migration: lineitem moment sums are
        # data-scaled (price^2 sums ~1e16 at sf1) — 128-bit micros form
        sums=",\n             ".join(
            f"{sql_exact_sum(a)} AS s_{a}"
            for a in _COLS
        )
        + ",\n             "
        + ",\n             ".join(
            f"{sql_exact_sum(f'{a} * {b}')} AS s_{a}_{b}"
            for i, a in enumerate(_COLS)
            for b in _COLS[i:]
        ),
        pairs="\n      UNION ALL\n      ".join(
            f"SELECT '{a}' AS a_name, '{b}' AS b_name, n, "
            f"s_{a} AS sa, s_{b} AS sb, s_{a}_{b} AS sab, "
            f"s_{a}_{a} AS saa, s_{b}_{b} AS sbb FROM m"
            for i, a in enumerate(_COLS)
            for b in _COLS[i + 1:]
        ),
    ),
    doc="Pairwise Pearson correlation matrix over the four lineitem "
        "measures in ONE scan: every first/second moment accumulates in "
        "a single aggregate (map-side partials, no per-pair passes), "
        "and the 6 correlations are rational + sqrt over those moments "
        "— the single-pass trick that makes a k-column correlation "
        "matrix O(scan + k^2 tiny arithmetic) instead of O(k^2 scans).",
    tags=("agg", "corr", "mlprep"),
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n")]
    for a in _COLS:
        aggs.append(exact_sum(F.col(a)).alias(f"s_{a}"))
    for i, a in enumerate(_COLS):
        for b in _COLS[i:]:
            aggs.append(exact_sum(F.col(a) * F.col(b)).alias(f"s_{a}_{b}"))
    m = li.agg(*aggs)
    rows = []
    for i, a in enumerate(_COLS):
        for b in _COLS[i + 1:]:
            corr = (
                F.col("n") * F.col(f"s_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
            ) / (
                F.sqrt(
                    F.greatest(
                        F.col("n") * F.col(f"s_{a}_{a}")
                        - F.col(f"s_{a}") * F.col(f"s_{a}"),
                        F.lit(1e-12),
                    )
                )
                * F.sqrt(
                    F.greatest(
                        F.col("n") * F.col(f"s_{b}_{b}")
                        - F.col(f"s_{b}") * F.col(f"s_{b}"),
                        F.lit(1e-12),
                    )
                )
            )
            rows.append(
                m.select(
                    F.lit(a).alias("a_name"),
                    F.lit(b).alias("b_name"),
                    corr.alias("corr"),
                )
            )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


@register(
    "q_minmax_scale",
    oracle="""
    WITH b AS (
      SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           (e.value - b.lo) / greatest(b.hi - b.lo, 1e-12) AS scaled
    FROM events e JOIN b ON e.event_type = b.event_type
    WHERE e.event_id < 3000
    """,
    doc="Per-group min-max feature scaling to [0,1]: group bounds from "
        "one aggregate, broadcast back onto the stream; rational "
        "arithmetic, zero-span groups guarded. The normalize step of "
        "every tabular feature pipeline.",
    tags=("scalar", "mlprep"),
)
def q_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    return (
        ev.filter(F.col("event_id") < 3000)
        .join(F.broadcast(bounds), "event_type")
        .select(
            "event_id",
            "event_type",
            (
                (F.col("value") - F.col("lo"))
                / F.greatest(F.col("hi") - F.col("lo"), F.lit(1e-12))
            ).alias("scaled"),
        )
    )


@register(
    "q_train_test_split",
    oracle="""
    SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
                WHEN doc_id % 10 = 8 THEN 'valid'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1
    """,
    doc="Deterministic 80/10/10 dataset split by key modulus: "
        "reproducible across runs and engines with no RNG state, "
        "stable under corpus growth for existing ids (a doc never "
        "migrates between splits), and computable inside the scan — "
        "the split column costs nothing at 100 TB. Summary counts per "
        "split are the oracle surface.",
    tags=("sample", "mlprep"),
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    split = (
        F.when(F.col("doc_id") % 10 < 8, F.lit("train"))
        .when(F.col("doc_id") % 10 == 8, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return docs.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "q_quantile_bin",
    # exact-rank binning (NTILE), not the sketch: the assignment itself
    # is the deliverable and must be engine-portable. NTILE(4) over
    # (value, unique key) is deterministic; per-bin summary pins the
    # boundaries and populations.
    oracle=f"""
    WITH ranked AS (
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price,
             NTILE(4) OVER (ORDER BY CAST(o_totalprice AS DOUBLE),
                            o_orderkey) AS bin
      FROM orders
    )
    SELECT CAST(bin AS INT) AS bin,
           COUNT(*) AS n,
           MIN(price) AS lo,
           MAX(price) AS hi,
           {sql_exact_sum('price')} AS total
    FROM ranked GROUP BY bin
    """,
    doc="Quantile feature binning (quartiles over order totalprice): "
        "exact NTILE-equivalent rank assignment — rank comes from the "
        "two-phase distributed prefix sum over (price, unique key), and "
        "bin = floor((rank-1)·k/n)+1, the closed form of NTILE(k) on "
        "unique ranks — so there is NO single-partition window anywhere "
        "(the oracle's NTILE is the semantic spec, not the plan). At "
        "100 TB the cheap alternative is approx_percentile cutpoints + "
        "broadcast (cf. q_approx_percentile's pinned error bound); this "
        "is the exact reference form that variant is gated against.",
    tags=("mlprep", "binning", "window"),
)
def q_quantile_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scale import distributed_cumsum

    orders = load_table(spark, sf_dir, "orders")
    priced = orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        F.lit(1).cast("bigint").alias("__one"),
    )
    ranked = distributed_cumsum(
        priced, ["price", "o_orderkey"], "__one", "rank"
    )
    n_rows = orders.count()
    # exact integer DIV — no double rounding at any row count
    binned = ranked.withColumn(
        "__num", ((F.col("rank") - 1) * 4).cast("bigint")
    ).withColumn("bin", F.expr(f"__num DIV {int(n_rows)}") + 1)
    return binned.groupBy(F.col("bin").cast("int").alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("price").alias("lo"),
        F.max("price").alias("hi"),
        exact_sum(F.col("price")).alias("total"),
    )


@register(
    "q_robust_scale",
    # median/MAD scaling is the outlier-immune cousin of z-scoring
    # (q_minmax_scale / q_winsorize siblings). Exact medians (DuckDB
    # MEDIAN == Spark median for these odd/even group sizes resolve to
    # exact order statistics or midpoints of representable doubles), so
    # per-row scaled values are IEEE-identical.
    oracle="""
    WITH stats AS (
      SELECT l_returnflag,
             MEDIAN(CAST(l_extendedprice AS DOUBLE)) AS med
      FROM lineitem GROUP BY l_returnflag
    ), dev AS (
      SELECT l.l_returnflag,
             MEDIAN(ABS(CAST(l.l_extendedprice AS DOUBLE) - s.med)) AS mad
      FROM lineitem l JOIN stats s USING (l_returnflag)
      GROUP BY l.l_returnflag
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           (CAST(l.l_extendedprice AS DOUBLE) - s.med) / NULLIF(d.mad, 0)
             AS robust_z
    FROM lineitem l
    JOIN stats s USING (l_returnflag)
    JOIN dev d USING (l_returnflag)
    WHERE l.l_orderkey % 20 = 0
    """,
    doc="Robust per-group feature scaling: (x - median) / MAD — immune "
        "to the outliers that poison mean/std z-scores. Two exact-"
        "median aggregation passes + broadcast joins of the tiny stats "
        "tables; emitted for the 1-in-20 orderkey slice with a unique "
        "(orderkey, linenumber) key.",
    tags=("mlprep", "scaling"),
)
def q_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice").cast("double")
    stats = li.groupBy("l_returnflag").agg(F.median(x).alias("med"))
    dev = (
        li.join(F.broadcast(stats), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(F.median(F.abs(x - F.col("med"))).alias("mad"))
    )
    return (
        li.filter(F.col("l_orderkey") % 20 == 0)
        .join(F.broadcast(stats), "l_returnflag")
        .join(F.broadcast(dev), "l_returnflag")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            ((x - F.col("med")) / F.nullif(F.col("mad"), F.lit(0.0))).alias(
                "robust_z"
            ),
        )
    )


@register(
    "q_quantile_bin_approx",
    # the 100 TB path q_quantile_bin's doc promises: approx_percentile
    # cutpoints (one sketch aggregation, no global rank) + broadcast
    # binning. With relative rank error eps=0.01, each bin's population
    # must sit within n*(1/4 +- 2*eps) of the exact quartile —
    # deterministic per fixture, so the oracle pins the gate.
    oracle="""
    WITH n AS (SELECT COUNT(*) AS total FROM orders)
    SELECT TRUE AS bins_complete, TRUE AS populations_ok,
           CAST(MAX(total) AS BIGINT) AS n_rows
    FROM n
    """,
    doc="Sketch-based quantile binning, gated: approx_percentile "
        "(GK sketch, eps=0.01) produces the three quartile cutpoints in "
        "ONE aggregation — no global sort/rank anywhere — and rows bin "
        "by broadcast comparison. Gate: all 4 bins present and every "
        "population within n*(1/4 +- 2 eps) of the exact quartile. The "
        "exact companion (q_quantile_bin, distributed prefix-sum NTILE) "
        "is the reference this is measured against.",
    tags=("mlprep", "binning", "sketch"),
)
def q_quantile_bin_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    priced = orders.select(F.col("o_totalprice").cast("double").alias("price"))
    eps = 0.01
    cuts = priced.agg(
        F.percentile_approx(
            "price", [0.25, 0.5, 0.75], F.lit(int(1 / eps))
        ).alias("c")
    ).collect()[0]["c"]
    c1, c2, c3 = [float(x) for x in cuts]
    bin_col = (
        F.when(F.col("price") <= c1, 1)
        .when(F.col("price") <= c2, 2)
        .when(F.col("price") <= c3, 3)
        .otherwise(4)
    )
    pops = priced.withColumn("bin", bin_col).groupBy("bin").agg(
        F.count(F.lit(1)).alias("n")
    )
    n_rows = orders.count()
    lo = n_rows * (0.25 - 2 * eps)
    hi = n_rows * (0.25 + 2 * eps)
    return pops.agg(
        (F.countDistinct("bin") == 4).alias("bins_complete"),
        ((F.min("n") >= lo) & (F.max("n") <= hi)).alias("populations_ok"),
        F.lit(n_rows).cast("bigint").alias("n_rows"),
    )


@register(
    "q_embedding_covariance",
    oracle=f"""
    WITH v AS (
      SELECT embedding AS e FROM embeddings WHERE embedding IS NOT NULL
    )
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND({sql_exact_sum("CAST(e[CAST(i AS INT) + 1] AS DOUBLE)", scale=12)} / COUNT(*), 9)
             AS mean_i,
           ROUND({sql_exact_sum("CAST(e[CAST(j AS INT) + 1] AS DOUBLE)", scale=12)} / COUNT(*), 9)
             AS mean_j,
           ROUND({sql_exact_sum("CAST(e[CAST(i AS INT) + 1] AS DOUBLE) * CAST(e[CAST(j AS INT) + 1] AS DOUBLE)", scale=12)} / COUNT(*)
           - ({sql_exact_sum("CAST(e[CAST(i AS INT) + 1] AS DOUBLE)", scale=12)} / COUNT(*))
             * ({sql_exact_sum("CAST(e[CAST(j AS INT) + 1] AS DOUBLE)", scale=12)} / COUNT(*)), 9)
             AS cov
    FROM v, range(64) t(i), range(64) u(j)
    WHERE j >= i
    GROUP BY i, j
    """,
    doc="Exact upper-triangle covariance table over the embedding column "
        "(operators/linalg.py covariance_exact): per-row coordinate "
        "products are single IEEE doubles, sums run through "
        "decimal(28,12) (order-independent), divisions happen in double "
        "after the cast (sql_exact_sum mean convention), and the outputs report "
        "at 9-decimal precision (the tfidf convention: a float32 "
        "coordinate's terminating decimal expansion can land exactly on "
        "a 1e-12 midpoint, where Spark and DuckDB round differently — "
        "dim 37 of the fixture does) — so all 2080 covariance entries "
        "hash-match DuckDB exactly. This is the oracle-grade "
        "path (O(n*d^2) exploded rows); the 100 TB path is the one-pass "
        "per-partition numpy Gram (gram_arrow, mapInArrow — O(n*d) I/O, "
        "zero shuffle), tolerance-pinned against this one by test.",
    tags=("mlprep", "linalg", "embedding"),
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linalg import covariance_exact

    emb = load_table(spark, sf_dir, "embeddings")
    cov = covariance_exact(emb, "embedding")
    return cov.select(
        "i",
        "j",
        "n",
        F.round("mean_i", 9).alias("mean_i"),
        F.round("mean_j", 9).alias("mean_j"),
        F.round("cov", 9).alias("cov"),
    )


@register(
    "q_pca_project",
    # eigendecomposition is not SQL-expressible, but the PROJECTED data
    # obeys exact linear-algebra laws the oracle pins per component:
    # projections are centered (mean 0), the per-axis variance equals
    # the fitted eigenvalue, axes are pairwise uncorrelated (component
    # orthogonality observed through the data), and eigenvalues descend.
    # All four are asserted over the DISTRIBUTED projection output — the
    # full pca_fit -> pca_project path runs, the gate is one aggregate
    # over it. Numpy parity lives in tests/test_linalg.py. n_rows is a
    # true cross-engine count of the projected corpus: it hash-pins
    # that the projection actually covered every input row.
    oracle="""
    SELECT CAST(i + 1 AS INT) AS comp,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
            WHERE embedding IS NOT NULL) AS n_rows,
           TRUE AS mean_zero_ok,
           TRUE AS var_matches_ok, TRUE AS ortho_ok, TRUE AS desc_ok
    FROM range(4) t(i)
    """,
    doc="Gate over PCA projection of the embedding corpus onto k=4 "
        "fitted components (operators/linalg.py pca_fit/pca_project): "
        "per-component centering, variance==eigenvalue, pairwise "
        "decorrelation, descending spectrum — asserted over the "
        "distributed projection (exact-decimal covariance path, "
        "driver-side d x d eigh, JVM dot-product projection).",
    tags=("mlprep", "linalg", "embedding", "quality"),
)
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linalg import pca_fit, pca_project

    k = 4
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    model = pca_fit(emb, "embedding", k=k)
    ev = [float(v) for v in model["eigenvalues"]]
    proj = pca_project(emb, model, "embedding", out_col="pc")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for r in range(k):
        aggs.append(F.avg(F.col("pc")[r]).alias(f"m{r}"))
        aggs.append(F.avg(F.col("pc")[r] * F.col("pc")[r]).alias(f"s{r}"))
        for s in range(r + 1, k):
            aggs.append(F.avg(F.col("pc")[r] * F.col("pc")[s]).alias(f"x{r}_{s}"))
    stats = proj.agg(*aggs)
    rows = []
    for r in range(k):
        var_r = F.col(f"s{r}") - F.col(f"m{r}") * F.col(f"m{r}")
        cross_terms = [
            F.abs(
                F.col(f"x{min(r, s)}_{max(r, s)}")
                - F.col(f"m{r}") * F.col(f"m{s}")
            )
            for s in range(k)
            if s != r
        ]
        max_cross = cross_terms[0]
        for t in cross_terms[1:]:
            max_cross = F.greatest(max_cross, t)
        tol = 1e-6 * max(ev[r], 1e-9)
        rows.append(
            F.struct(
                F.lit(r + 1).cast("int").alias("comp"),
                F.col("n_rows").alias("n_rows"),
                (F.abs(F.col(f"m{r}")) <= 1e-6).alias("mean_zero_ok"),
                (F.abs(var_r - F.lit(ev[r])) <= tol).alias("var_matches_ok"),
                (max_cross <= 1e-6).alias("ortho_ok"),
                F.lit(r == 0 or ev[r] <= ev[r - 1] + 1e-12).alias("desc_ok"),
            )
        )
    exploded = stats.select(F.explode(F.array(*rows)).alias("g"))
    return exploded.select("g.comp", "g.n_rows", "g.mean_zero_ok",
                           "g.var_matches_ok", "g.ortho_ok", "g.desc_ok")


@register(
    "q_prototype_prune",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding AS e,
             4 * CASE WHEN e[1] >= 0 THEN 1 ELSE 0 END
             + 2 * CASE WHEN e[2] >= 0 THEN 1 ELSE 0 END
             + CASE WHEN e[3] >= 0 THEN 1 ELSE 0 END AS bucket
      FROM embeddings WHERE embedding IS NOT NULL
    ), cent AS (
      SELECT bucket, CAST(i AS INT) AS i,
             ROUND({sql_exact_sum("CAST(e[CAST(i AS INT) + 1] AS DOUBLE)", scale=12)}
                   / COUNT(*), 9) AS c,
             COUNT(*) AS n_bucket
      FROM v, range(64) t(i) GROUP BY bucket, i
    ), dist AS (
      -- decimal-sum-ok: exact-integer picounit sum (FLOOR to BIGINT
      -- per row, summed losslessly, ONE int->double at the end — the
      -- r12 floor-scaled form; d-bounded: <= 64 terms per (vec,bucket))
      SELECT v.vec_id, v.bucket, MIN(cent.n_bucket) AS n_bucket,
             CAST(CAST(SUM(CAST(FLOOR(
               ((CAST(e[cent.i + 1] AS DOUBLE) - cent.c)
                * (CAST(e[cent.i + 1] AS DOUBLE) - cent.c))
               * 1000000000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
               / 1000000000000.0 AS dist2
      FROM v JOIN cent ON cent.bucket = v.bucket
      GROUP BY v.vec_id, v.bucket
    )
    SELECT vec_id, CAST(bucket AS INT) AS bucket,
           CAST(n_bucket AS BIGINT) AS n_bucket, dist2,
           CAST(ROW_NUMBER() OVER (PARTITION BY bucket
                                   ORDER BY dist2 DESC, vec_id)
                AS BIGINT) AS keep_rank,
           ROW_NUMBER() OVER (PARTITION BY bucket
                              ORDER BY dist2 DESC, vec_id)
             <= CAST(ceil(n_bucket * 0.75) AS BIGINT) AS kept
    FROM dist
    """,
    doc="Prototype-based data pruning (operators/sampling.py "
        "prototype_prune; Sorscher et al. 2022): within each cluster, "
        "keep the hardest (centroid-farthest) 75% and drop the "
        "prototypical redundant core. Clustering is pluggable — "
        "production feeds trained k-means, this oracle feeds a "
        "deterministic 3-bit sign-pattern bucket so DuckDB replays "
        "everything. Centroids are decimal-summed means pinned at 9 "
        "decimals; distances accumulate through decimal(28,12) — so "
        "dist2 AND the keep rank are engine-exact. One d-column "
        "aggregate + broadcast join + one per-bucket window.",
    tags=("mlprep", "sampling", "embedding"),
)
def q_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import prototype_prune

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    e = F.col("embedding")
    bucket = (
        (e[0] >= 0).cast("int") * 4
        + (e[1] >= 0).cast("int") * 2
        + (e[2] >= 0).cast("int")
    )
    tagged = emb.withColumn("bucket", bucket)
    out = prototype_prune(
        tagged, bucket_col="bucket", vec_col="embedding",
        id_col="vec_id", keep_frac=0.75,
    )
    return out.select(
        "vec_id",
        F.col("bucket").cast("int").alias("bucket"),
        "n_bucket",
        "dist2",
        "keep_rank",
        "kept",
    )


@register(
    "q_length_bucket_batching",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_tokens
      FROM documents
    ), b AS (
      SELECT doc_id, n_tokens,
             CASE WHEN n_tokens <= 32 THEN 0
                  WHEN n_tokens <= 64 THEN 1
                  WHEN n_tokens <= 128 THEN 2
                  ELSE 3 END AS bucket
      FROM t
    ), r AS (
      SELECT bucket, n_tokens,
             (ROW_NUMBER() OVER (PARTITION BY bucket
                                 ORDER BY n_tokens, doc_id) - 1) // 16
               AS batch_id
      FROM b
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(batch_id AS BIGINT) AS batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(MAX(n_tokens) AS BIGINT) AS max_len,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_len,
           CAST(COUNT(*) * MAX(n_tokens) AS BIGINT) AS padded_tokens,
           CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT)
             AS waste_tokens
    FROM r GROUP BY bucket, batch_id
    """,
    doc="Length-bucketed inference batching (operators/scale.py "
        "length_bucketed_batches): docs bucketed by token length "
        "(<=32/64/128/overflow), batches of 16 cut within each bucket in "
        "(length, id) order, per-batch padded-token and waste accounting "
        "— the padding-waste reducer every transformer eval/serving "
        "loader uses. Deterministic RNG-free batch composition; one "
        "per-bucket window shuffle + one riding aggregate.",
    tags=("mlprep", "packing", "text"),
)
def q_length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scale import length_bucketed_batches

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(
            F.filter(F.split("text", " "), lambda w: w != F.lit(""))
        ).cast("bigint").alias("n_tokens"),
    )
    return length_bucketed_batches(
        toks, len_col="n_tokens", id_col="doc_id",
        bucket_edges=[32, 64, 128], batch_size=16,
    )


@register(
    "q_negative_sampling",
    oracle="""
    WITH idx AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS i
      FROM documents
    ), t AS (SELECT COUNT(*) AS n FROM documents),
    anchors AS (
      SELECT doc_id, i, n, j
      FROM idx, t, unnest([0, 1, 2]) AS u(j)
    ), tgt AS (
      SELECT doc_id, j,
             (i + 1 + ((i * 2654435761 + j * 2246822519) % (n - 1))) % n
               AS ti
      FROM anchors
    )
    SELECT tgt.doc_id AS anchor, CAST(tgt.j AS INT) AS j,
           idx.doc_id AS neg
    FROM tgt JOIN idx ON idx.i = tgt.ti
    """,
    doc="Deterministic negative sampling for contrastive training "
        "(operators/sampling.py negative_samples): every document draws "
        "k=3 pseudo-random negatives via a Knuth-multiplicative offset "
        "over a dense 0..N-1 index — RNG-free, so the pair set is "
        "reproducible across runs/engines/resumes, and a row never "
        "draws itself. The dense index comes from the distributed "
        "prefix sum (the oracle's ROW_NUMBER is the semantic spec, not "
        "the plan); one equi-join on the target index, O(k*N) rows out, "
        "no pairwise blowup.",
    tags=("mlprep", "sampling", "embedding"),
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import negative_samples

    docs = load_table(spark, sf_dir, "documents")
    return negative_samples(docs, id_col="doc_id", k=3)


@register(
    "q_budget_curation",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_tokens,
             n_chars
      FROM documents WHERE lang IN ('en', 'de')
    ), r AS (
      SELECT doc_id, lang, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id)
               AS keep_rank,
             SUM(n_tokens) OVER (PARTITION BY lang
                                 ORDER BY n_chars DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_weight
      FROM t
    )
    SELECT doc_id, lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(keep_rank AS BIGINT) AS keep_rank,
           CAST(cum_weight AS BIGINT) AS cum_weight
    FROM r
    WHERE cum_weight <= CASE lang WHEN 'en' THEN 4000 ELSE 2500 END
    """,
    doc="Quality-first selection under a per-source token budget "
        "(operators/sampling.py budget_curation; the data-constrained "
        "curation step, Muennighoff et al. 2023): per language, keep "
        "the longest (score desc, id)-ordered prefix whose running "
        "token total fits the budget (en: 4000, de: 2500; n_chars as "
        "the stand-in quality score). Greedy-prefix semantics, "
        "deterministic; one per-group window shuffle shared by rank "
        "and running sum + a broadcast budget map.",
    tags=("mlprep", "sampling", "text"),
)
def q_budget_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import budget_curation

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "de")
    )
    t = docs.select(
        "doc_id",
        "lang",
        F.size(
            F.filter(F.split("text", " "), lambda w: w != F.lit(""))
        ).cast("bigint").alias("n_tokens"),
        "n_chars",
    )
    out = budget_curation(
        t, group_col="lang", id_col="doc_id", weight_col="n_tokens",
        score_col="n_chars", budgets={"en": 4000, "de": 2500},
    )
    return out.select(
        "doc_id", "lang", "n_tokens", "keep_rank", "cum_weight"
    )


@register(
    "q_grouped_pca",
    # per-group eigendecomposition is not SQL-expressible, but each
    # group's scree output obeys laws the oracle pins per label: exactly
    # k components, nonnegative descending eigenvalues, explained_ratio
    # consistent with eigenvalue / trace where the TRACE is recomputed
    # independently in Spark SQL (sum of per-dimension population
    # variances — a quantity DuckDB could also compute), and the top-k
    # eigenvalue mass bounded by the trace. The group row count n is a
    # full value check against the oracle's COUNT(*). Numpy parity in
    # tests/test_linalg.py.
    oracle="""
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n, TRUE AS k_ok,
           TRUE AS nonneg_ok, TRUE AS desc_ok, TRUE AS ratio_ok,
           TRUE AS bound_ok
    FROM embeddings WHERE embedding IS NOT NULL
    GROUP BY label HAVING COUNT(*) >= 2
    """,
    doc="Gate over per-label PCA scree summary (operators/linalg.py "
        "grouped_pca_summary, grouped-map applyInPandas — the "
        "many-small-models regime): per-label component count, "
        "spectrum sign/order, explained-ratio consistency vs an "
        "independently-aggregated trace, Bessel bound; n value-checked.",
    tags=("mlprep", "linalg", "embedding", "quality"),
)
def q_grouped_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linalg import grouped_pca_summary

    k = 2
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    summ = grouped_pca_summary(emb, group_col="label", k=k)
    xi = emb.select("label", F.posexplode("embedding").alias("i", "x")).select(
        "label", "i", F.col("x").cast("double").alias("x")
    )
    trace = (
        xi.groupBy("label", "i")
        .agg(
            (F.avg(F.col("x") * F.col("x")) - F.avg("x") * F.avg("x")).alias(
                "v"
            )
        )
        .groupBy("label")
        .agg(F.sum("v").alias("trace"))
    )
    j = summ.join(trace, "label")
    ev_first = F.max(F.when(F.col("comp") == 0, F.col("eigenvalue")))
    ev_last = F.max(F.when(F.col("comp") == k - 1, F.col("eigenvalue")))
    return j.groupBy("label").agg(
        F.min("n").cast("bigint").alias("n"),
        (F.count(F.lit(1)) == k).alias("k_ok"),
        (F.min("eigenvalue") >= -1e-9).alias("nonneg_ok"),
        (ev_first >= ev_last - 1e-12).alias("desc_ok"),
        (
            F.max(
                F.abs(
                    F.col("explained_ratio")
                    - F.col("eigenvalue") / F.col("trace")
                )
            )
            <= 1e-6
        ).alias("ratio_ok"),
        (
            F.sum("eigenvalue")
            <= F.min("trace") * (1 + 1e-9) + 1e-12
        ).alias("bound_ok"),
    )


@register(
    "q_label_centroid_similarity",
    oracle=f"""
    WITH v AS (
      SELECT label, embedding AS e FROM embeddings
      WHERE embedding IS NOT NULL
    ), cent AS (
      SELECT label, CAST(i AS INT) AS i,
             ROUND({sql_exact_sum("CAST(e[CAST(i AS INT) + 1] AS DOUBLE)", scale=12)}
                   / COUNT(*), 9) AS c
      FROM v, range(64) t(i) GROUP BY label, i
    ), dots AS (
      -- decimal-sum-ok: fixed 64-term frames of unit-scale centroid
      -- components; |sum| <= 64, far below the 2^12 pico threshold
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(SUM(CAST(a.c * b.c AS DECIMAL(28,12))) AS DOUBLE) AS dot,
             CAST(SUM(CAST(a.c * a.c AS DECIMAL(28,12))) AS DOUBLE) AS na,
             CAST(SUM(CAST(b.c * b.c AS DECIMAL(28,12))) AS DOUBLE) AS nb
      FROM cent a JOIN cent b ON a.i = b.i AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT label_a, label_b,
           ROUND(dot / (sqrt(na) * sqrt(nb)), 9) AS cosine
    FROM dots
    """,
    doc="Domain similarity matrix — pairwise cosine between per-label "
        "embedding centroids: the redundancy signal mixture designers "
        "check before weighting domains (two near-identical domains "
        "should not both get full weight). Centroids are decimal-summed "
        "means pinned at 9 decimals (the covariance convention); the "
        "pairwise stage runs over #labels x d rows — tiny regardless of "
        "corpus size, since the heavy reduction happened in the ONE "
        "centroid aggregate. Cosine reported at 9 decimals.",
    tags=("mlprep", "embedding", "similarity"),
)
def q_label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    dec = "decimal(28,12)"
    xi = emb.select(
        "label", F.posexplode("embedding").alias("i", "x")
    )
    # r13 decimal-sum migration: per-label component sums are
    # data-scaled — pico-unit form (same 12-dp per-row quantization)
    cent = xi.groupBy("label", "i").agg(
        F.round(
            exact_sum(F.col("x").cast("double"), scale=12) / F.count(F.lit(1)),
            9,
        ).alias("c")
    )
    a = cent.select(
        F.col("label").alias("label_a"),
        F.col("i").alias("ia"),
        F.col("c").alias("ca"),
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        F.col("i").alias("ib"),
        F.col("c").alias("cb"),
    )
    dots = (
        a.join(
            b,
            (F.col("ia") == F.col("ib"))
            & (F.col("label_a") < F.col("label_b")),
        )
        .groupBy("label_a", "label_b")
        # decimal-sum-ok: fixed 64-term frames (see the oracle note)
        .agg(
            F.sum((F.col("ca") * F.col("cb")).cast(dec)).cast("double").alias("dot"),
            F.sum((F.col("ca") * F.col("ca")).cast(dec)).cast("double").alias("na"),
            F.sum((F.col("cb") * F.col("cb")).cast(dec)).cast("double").alias("nb"),
        )
    )
    return dots.select(
        "label_a",
        "label_b",
        F.round(
            F.col("dot") / (F.sqrt("na") * F.sqrt("nb")), 9
        ).alias("cosine"),
    )


@register(
    "q_upsample_epochs",
    oracle="""
    WITH r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents),
    c AS (
      SELECT doc_id, lang, rn,
             CASE WHEN n >= 150
                  THEN CASE WHEN rn <= 150 THEN 1 ELSE 0 END
                  ELSE 150 // n
                       + CASE WHEN rn <= 150 % n THEN 1 ELSE 0 END
             END AS copies
      FROM r)
    SELECT doc_id, lang, CAST(e AS BIGINT) AS epoch
    FROM c, UNNEST(generate_series(0, CAST(copies AS INT) - 1)) AS t(e)
    WHERE copies >= 1
    """,
    doc="Epoch upsampling to a fixed 150-doc-per-language target — the "
        "data-repetition step of a pretraining mix (low-resource "
        "domains repeat for multiple epochs, e.g. Muennighoff et al. "
        "2023 on repeating data; abundant ones truncate): a group with "
        "n >= 150 contributes its first 150 docs once; a group with "
        "n < 150 contributes every doc floor(150/n) times plus one "
        "extra epoch for the first 150 mod n docs (deterministic by "
        "doc_id), so every group lands on EXACTLY 150 rows. Output is "
        "(doc_id, lang, epoch) — epoch is the repeat index a loader "
        "uses for shuffling/curriculum. One per-group window on the "
        "group-keyed shuffle + an integer-sequence explode; quotas are "
        "pure integer arithmetic, no sampling, fully value-checked.",
    tags=("mlprep", "sampling", "upsampling"),
)
def q_upsample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    target = 150
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = W.partitionBy("lang").orderBy("doc_id")
    r = docs.select(
        "doc_id",
        "lang",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("lang")).alias("n"),
    )
    copies = F.when(
        F.col("n") >= target,
        F.when(F.col("rn") <= target, F.lit(1)).otherwise(F.lit(0)),
    ).otherwise(
        (F.lit(target) / F.col("n")).cast("bigint")
        + F.when(F.col("rn") <= F.lit(target) % F.col("n"), 1).otherwise(0)
    )
    c = r.withColumn("copies", copies).filter(F.col("copies") >= 1)
    return c.select(
        "doc_id",
        "lang",
        F.explode(
            F.sequence(F.lit(0), (F.col("copies") - 1).cast("int"))
        ).alias("epoch"),
    ).select("doc_id", "lang", F.col("epoch").cast("bigint").alias("epoch"))


@register(
    "q_interleave_order",
    oracle="""
    WITH r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents)
    SELECT source, CAST(rn AS BIGINT) AS rn,
           CAST(2 * rn - 1 AS DOUBLE) / CAST(2 * n AS DOUBLE) AS pos
    FROM r ORDER BY pos, source LIMIT 100
    """,
    doc="Deterministic proportional source interleaving for training "
        "order: document i of a source with n docs gets global sort "
        "key (2i-1)/(2n) — the stratified low-discrepancy ordering "
        "that spreads every source evenly through the epoch (no "
        "clumping of one domain, the RNG-free counterpart of a "
        "weighted shuffle; same midpoint rule as stratified systematic "
        "sampling). The key is one integer-to-double division — exact "
        "cross-engine; ties (equal-size sources) break by source name. "
        "First 100 interleaved rows returned. Per-source rank windows "
        "on the source-keyed shuffle; the global cut is a sort-limit "
        "(per-partition heaps), not a global window.",
    tags=("mlprep", "sampling", "ordering"),
)
def q_interleave_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = W.partitionBy("source").orderBy("doc_id")
    r = docs.select(
        "source",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("source")).alias("n"),
    )
    pos = (F.lit(2) * F.col("rn") - 1).cast("double") / (
        F.lit(2) * F.col("n")
    ).cast("double")
    return (
        r.select("source", "rn", pos.alias("pos"))
        .orderBy("pos", "source")
        .limit(100)
    )


def _domain_reweight_oracle(n_iter: int = 10) -> str:
    """Chained-CTE oracle for q_domain_reweight: the recursion is a
    FIXED 10 steps over a #domains-row table, so it unrolls into 10
    chained CTEs (a recursive CTE cannot reference itself twice, which
    the per-step weighted mean would need). Each step is MATERIALIZED:
    every it(k+1) references it(k) twice (FROM + the weighted-mean
    scalar subquery), so default CTE inlining doubles the expression
    tree per level — 2^10 copies of the base aggregate, minutes of
    planner time for a 10-row table; materialization makes it 10 tiny
    scans (measured: minutes -> <1s). Ordered list_sum folds pin the
    float accumulation order to match the driver-side sequential
    fold."""
    steps = [
        """it0 AS MATERIALIZED (
      SELECT source, s, 1.0 / (SELECT CAST(COUNT(*) AS DOUBLE) FROM st)
               AS w
      FROM st
    )"""
    ]
    for k in range(n_iter):
        steps.append(f"""it{k + 1} AS MATERIALIZED (
      SELECT source, s,
             w * (1.0 + 0.1 * (s -
               (SELECT list_sum(list(w * s ORDER BY source))
                       / list_sum(list(w ORDER BY source)) FROM it{k})))
               AS w
      FROM it{k}
    )""")
    return f"""
    WITH st AS (
      SELECT source,
             CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               / 1000.0 AS s
      FROM documents GROUP BY source
    ), {', '.join(steps)}
    SELECT source, round(s, 9) AS score,
           round(w / (SELECT list_sum(list(w ORDER BY source))
                      FROM it{n_iter}), 9) AS weight
    FROM it{n_iter}
    """


@register(
    "q_domain_reweight",
    oracle=_domain_reweight_oracle(),
    doc="Iterative multiplicative domain reweighting (DoReMi-style "
        "excess-score updates, Xie et al. 2023, in a deterministic "
        "rational form): starting uniform, each of 10 rounds moves "
        "weight toward domains whose quality score exceeds the current "
        "weighted mean — w <- w * (1 + 0.1 * (s - <s>_w)) — then the "
        "final weights normalize once. The score is the per-source "
        "mean n_chars / 1000 (two exact integer sums, one division). "
        "All folds are ORDER-PINNED (source-sorted sequential adds) so "
        "driver arithmetic and the oracle's ordered list_sum agree "
        "bit-for-bit; reported at 9 decimals. Scale shape: the ONLY "
        "distributed work is the per-source moment aggregate (map-side "
        "combinable); the 10-step loop runs on the #domains-row "
        "artifact (bounded, like k-means centroids or the PCA eigh) — "
        "at 100 TB the iteration cost is independent of corpus size.",
    tags=("mlprep", "mixture", "iterative"),
)
def q_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stats = (
        docs.groupBy("source")
        .agg(
            (
                F.sum("n_chars").cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(1000.0)
            ).alias("s")
        )
        .collect()
    )
    rows = sorted(((r["source"], float(r["s"])) for r in stats))
    w = {src: 1.0 / float(len(rows)) for src, _ in rows}
    for _ in range(10):
        num = 0.0
        den = 0.0
        for src, s in rows:  # source-sorted sequential folds
            num += w[src] * s
            den += w[src]
        m = num / den
        w = {src: w[src] * (1.0 + 0.1 * (s - m)) for src, s in rows}
    z = 0.0
    for src, _ in rows:
        z += w[src]
    out = [(src, round(s, 9), round(w[src] / z, 9)) for src, s in rows]
    return spark.createDataFrame(
        out, "source string, score double, weight double"
    )


@register(
    "q_incremental_covariance",
    # the oracle is the FULL recompute over all rows; the Spark side
    # merges per-slice decimal moment tables by ADDITION — exact-decimal
    # sufficient statistics are associative, so base + delta must equal
    # the full pass bit-for-bit (same law q_incremental_agg pins for
    # decimal partial sums, here lifted to second moments / covariance)
    oracle=f"""
    WITH v AS (
      SELECT embedding AS e FROM embeddings WHERE embedding IS NOT NULL
    )
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND({sql_exact_sum("CAST(e[CAST(i AS INT) + 1] AS DOUBLE)", scale=12)} / COUNT(*), 9)
             AS mean_i,
           ROUND({sql_exact_sum("CAST(e[CAST(j AS INT) + 1] AS DOUBLE)", scale=12)} / COUNT(*), 9)
             AS mean_j,
           ROUND({sql_exact_sum("CAST(e[CAST(i AS INT) + 1] AS DOUBLE) * CAST(e[CAST(j AS INT) + 1] AS DOUBLE)", scale=12)} / COUNT(*)
           - ({sql_exact_sum("CAST(e[CAST(i AS INT) + 1] AS DOUBLE)", scale=12)} / COUNT(*))
             * ({sql_exact_sum("CAST(e[CAST(j AS INT) + 1] AS DOUBLE)", scale=12)} / COUNT(*)), 9)
             AS cov
    FROM v, range(8) t(i), range(8) u(j)
    WHERE j >= i
    GROUP BY i, j
    """,
    doc="INCREMENTALLY-MAINTAINED covariance (dims 0-7 upper triangle): "
        "the corpus splits into a base (vec_id % 5 != 0) and a delta "
        "batch (vec_id % 5 == 0); each slice aggregates its decimal "
        "sufficient statistics (n, per-dim sums, per-pair product "
        "sums) SEPARATELY and the covariance comes from their cell-"
        "wise SUM — the daily-delta maintenance story for the linalg "
        "family: yesterday's moment table + today's batch, never a "
        "full rescan. Decimal addition is exact and associative, so "
        "the merged result equals the oracle's full recompute "
        "bit-for-bit (divisions and the 9-decimal report happen only "
        "AFTER the merge, per the covariance conventions). Scale: two "
        "slice aggregates with map-side combine; the merge is one "
        "1-row + 1-row addition.",
    tags=("mlprep", "linalg", "incremental"),
)
def q_incremental_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = 8
    dec = "decimal(28,12)"
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )

    def moments(df: DataFrame) -> DataFrame:
        x = [F.col("embedding")[k].cast("double") for k in range(d)]
        aggs = [F.count(F.lit(1)).alias("n")]
        for k in range(d):
            aggs.append(F.sum(x[k].cast(dec)).alias(f"s{k}"))
        for k in range(d):
            for l in range(k, d):
                aggs.append(
                    F.sum((x[k] * x[l]).cast(dec)).alias(f"g{k}_{l}")
                )
        return df.agg(*aggs)

    base = moments(emb.filter(F.col("vec_id") % 5 != 0))
    delta = moments(emb.filter(F.col("vec_id") % 5 == 0))
    ren = lambda df, p: df.select(  # noqa: E731
        *[F.col(c).alias(f"{p}{c}") for c in df.columns]
    )
    m = ren(base, "b_").crossJoin(F.broadcast(ren(delta, "d_")))
    # merge = cell-wise decimal addition; NULL slice sums (empty slice)
    # coalesce to 0 so an empty delta is the identity
    zero = F.lit(0).cast(dec)
    tot = lambda c: F.coalesce(F.col(f"b_{c}"), zero) + F.coalesce(  # noqa: E731
        F.col(f"d_{c}"), zero
    )
    # n must exist BEFORE the projection that divides by it: defining it
    # as an alias in the same select would make the struct expressions
    # lateral-column references, which Spark's analyzer rejects under
    # generators
    m = m.withColumn("n", F.col("b_n") + F.col("d_n"))
    rows = []
    for k in range(d):
        for l in range(k, d):
            mean_k = tot(f"s{k}").cast("double") / F.col("n")
            mean_l = tot(f"s{l}").cast("double") / F.col("n")
            cov = tot(f"g{k}_{l}").cast("double") / F.col("n") - mean_k * mean_l
            rows.append(
                F.struct(
                    F.lit(k).cast("int").alias("i"),
                    F.lit(l).cast("int").alias("j"),
                    F.round(mean_k, 9).alias("mean_i"),
                    F.round(mean_l, 9).alias("mean_j"),
                    F.round(cov, 9).alias("cov"),
                )
            )
    merged = m.select("n", F.explode(F.array(*rows)).alias("g"))
    return merged.select(
        "g.i", "g.j", F.col("n").cast("bigint").alias("n"),
        "g.mean_i", "g.mean_j", "g.cov",
    )
