"""Dedup-family scale probe: measured growth from sf0.1 to ~sf1.

Builds scaled copies of the sf0.1 ``documents`` table (multipliers 1x /
3x / 10x — 10x ~= sf1's ~50k docs) and times each dedup operator
end-to-end at every scale. Each copy k gets a disjoint doc_id range and a
copy-specific token prefix on every word, so cross-copy similarity is
zero: the corpus grows k-fold while each copy keeps exactly the original
duplicate structure. That isolates *throughput* scaling from
*candidate-volume* blowup — a probe that duplicated text verbatim would
instead measure the pair explosion of an adversarial all-duplicates
corpus.

Usage:
    python tools/scale_probe.py [--multipliers 1 3 10]

Prints one JSON object: {"rows": {mult: n}, "secs": {op: {mult: sec}},
"ratios": {op: sec@10x / sec@1x}}. Linear-ish ops should show ratio ~10
or less (overhead-dominated); anything super-linear is a scale bug.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from dataintegration_csvprovider_spark.operators import dedup  # noqa: E402
from dataintegration_csvprovider_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def build_scaled(spark, mult: int, out_dir: str) -> None:
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    copies = []
    for k in range(mult):
        tagged = base.select(
            (F.col("doc_id") + F.lit(k * 10_000_000)).alias("doc_id"),
            # prefix every word with a copy tag: intra-copy shingle
            # structure is preserved, cross-copy overlap is nil
            F.array_join(
                F.transform(
                    F.split(F.col("text"), r"\s+"),
                    lambda w: F.concat(F.lit(f"c{k}_"), w),
                ),
                " ",
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        copies.append(tagged)
    df = copies[0]
    for c in copies[1:]:
        df = df.unionByName(c)
    df.repartition(32).write.mode("overwrite").parquet(out_dir)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def build_scaled_embeddings(spark, mult: int, out_dir: str) -> None:
    """Scaled embeddings: copy k flips the sign of dimension i when
    xxhash64(k, i) is odd. A deterministic per-copy sign pattern keeps
    every within-copy geometry (pairwise cosines, norms) EXACTLY intact
    while making cross-copy cosines ~0 on average — the corpus grows
    k-fold without inventing new near-dup structure, so ANN/near-dup
    timings measure throughput, not a pair explosion."""
    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    copies = []
    for k in range(mult):
        signs = F.transform(
            F.sequence(F.lit(0), F.size("embedding") - 1),
            lambda i: F.when(
                F.xxhash64(F.lit(k), i) % 2 == 0, F.lit(1.0)
            ).otherwise(F.lit(-1.0)),
        )
        copies.append(
            base.select(
                (F.col("vec_id") + F.lit(k * 10_000_000)).alias("vec_id"),
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    signs,
                    lambda x, s: (x * s).cast("float"),
                ).cast("array<float>").alias("embedding"),
                "label",
            )
        )
    df = copies[0]
    for c in copies[1:]:
        df = df.unionByName(c)
    df.repartition(32).write.mode("overwrite").parquet(out_dir)


def build_scaled_edges(spark, mult: int, out_dir: str) -> None:
    """Scaled undirected edge list: the sf0.1 orders-derived mod-5000
    graph (~every residue touched, no dangling nodes after the reverse
    union), copied with disjoint node-id ranges — per-copy structure
    (degree distribution, components, diameter) is exactly the base
    graph's, so iterative-join timings measure edge-volume throughput."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    base = orders.select(
        (F.col("o_custkey") % 5000).alias("src"),
        (F.col("o_orderkey") % 5000).alias("dst"),
    ).distinct()
    und = base.unionByName(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    copies = []
    for k in range(mult):
        off = F.lit(k * 10_000_000)
        copies.append(
            und.select(
                (F.col("src") + off).alias("src"),
                (F.col("dst") + off).alias("dst"),
            )
        )
    df = copies[0]
    for c in copies[1:]:
        df = df.unionByName(c)
    df.repartition(32).write.mode("overwrite").parquet(out_dir)


def probe_graph(spark, path: str) -> dict[str, float]:
    from dataintegration_csvprovider_spark.operators.components import (
        connected_components,
        incremental_components,
    )
    from dataintegration_csvprovider_spark.operators.graph import (
        bfs_levels,
        pagerank,
    )

    edges = spark.read.parquet(path)
    sources = spark.createDataFrame([(0,)], "node long")

    def inc_cc(e):
        # round 11: the incremental-maintenance step — labels built
        # from the first half, second half folded in as the delta; the
        # DELTA fold (contracted-batch CC + one composition join) is
        # the recurring production cost this measures
        half0 = e.filter((F.col("src") + F.col("dst")) % 2 == 0)
        half1 = e.filter((F.col("src") + F.col("dst")) % 2 == 1)
        labels = incremental_components(None, half0).localCheckpoint(
            eager=True
        )
        return incremental_components(labels, half1)

    ops = {
        "pagerank_5it": lambda e: pagerank(e, iterations=5),
        "components": lambda e: connected_components(e, src="src", dst="dst"),
        "inc_components": inc_cc,
        "bfs_depth8": lambda e: bfs_levels(
            e, sources, max_depth=8, allow_partial=True
        ),
    }
    secs: dict[str, float] = {}
    for name, fn in ops.items():
        spark.sparkContext._jvm.System.gc()
        t0 = time.monotonic()
        _force(fn(edges))
        secs[name] = round(time.monotonic() - t0, 3)
    return secs


def probe_similarity(spark, path: str) -> dict[str, float]:
    from dataintegration_csvprovider_spark.operators import similarity
    from dataintegration_csvprovider_spark.operators.pq import knn_ivfpq

    emb = spark.read.parquet(path)
    qvec = [
        r[0]
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .orderBy("vec_id")
        .limit(1)
        .select(F.explode("embedding"))
        .collect()
    ]
    ops = {
        "knn_brute": lambda d: similarity.knn_bruteforce(d, qvec, k=10),
        "knn_ivf": lambda d: similarity.knn_ivf(d, qvec, k=10),
        "ivfpq": lambda d: knn_ivfpq(d, qvec, k=10, n_probe=4, shortlist=100),
        "neardup_trained": lambda d: similarity.embedding_near_dup_pairs(
            d, threshold=0.95
        ),
        "prototype_prune": lambda d: _prototype(d),
    }
    secs: dict[str, float] = {}
    for name, fn in ops.items():
        spark.sparkContext._jvm.System.gc()
        t0 = time.monotonic()
        _force(fn(emb))
        secs[name] = round(time.monotonic() - t0, 3)
    return secs


def _prototype(emb):
    from dataintegration_csvprovider_spark.operators.sampling import (
        prototype_prune,
    )

    e = F.col("embedding")
    bucket = (
        (e[0] >= 0).cast("int") * 4
        + (e[1] >= 0).cast("int") * 2
        + (e[2] >= 0).cast("int")
    )
    return prototype_prune(
        emb.withColumn("bucket", bucket), bucket_col="bucket",
        keep_frac=0.75,
    )


def probe_curation(spark, path: str) -> dict[str, float]:
    """Round-5 curation family: every op here is designed linear (one
    explode / one keyed join / expression-only), so 10x data should cost
    ~10x or less — anything super-linear is a scale bug."""
    from dataintegration_csvprovider_spark.operators.cdc import snapshot_diff
    from dataintegration_csvprovider_spark.operators.textstats import (
        dsir_importance,
        filter_funnel,
        scrub_boilerplate_lines,
        span_corruption,
    )

    docs = spark.read.parquet(path)
    n_tokens = F.size(F.filter(F.split("text", " "), lambda w: w != F.lit("")))

    def funnel(d):
        return filter_funnel(
            d,
            [
                ("min_words", n_tokens >= 10),
                ("max_words", n_tokens <= 100000),
                ("has_lang", F.col("lang").isNotNull()),
            ],
        )

    def snapshot(d):
        old = d.filter(F.col("doc_id") % 7 != 3)
        new = d.filter(F.col("doc_id") % 11 != 5).select(
            "doc_id",
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.col("text"), F.lit(" rev2")))
            .otherwise(F.col("text")).alias("text"),
            "lang", "source", "n_chars",
        )
        return snapshot_diff(old, new, ["doc_id"], ["text", "lang", "source"])

    ops = {
        "filter_funnel": funnel,
        "boilerplate_scrub": lambda d: scrub_boilerplate_lines(d),
        "dsir_importance": lambda d: dsir_importance(
            d, d.filter(F.col("lang") == "en")
        ),
        "span_corruption": lambda d: span_corruption(d),
        "snapshot_diff": snapshot,
    }
    secs: dict[str, float] = {}
    for name, fn in ops.items():
        spark.sparkContext._jvm.System.gc()
        t0 = time.monotonic()
        _force(fn(docs))
        secs[name] = round(time.monotonic() - t0, 3)
    return secs


def probe_retrieval(spark, path: str) -> dict[str, float]:
    """Round-6 retrieval/drift family: BM25 scoring (postings-pruned),
    chi-square drift (term-keyed full outer join + 1-row totals),
    Gini-Simpson diversity (two keyed counts), epoch upsampling and
    proportional interleave (per-group windows). All designed linear in
    corpus size; the BM25 prune means its cost tracks MATCHING postings,
    not vocabulary. NOTE: the scaled copies prefix every word with a
    copy tag, so the fixed BM25 query terms only match copy 0 — the
    probe therefore times the scan+prune (the dominant 100 TB cost) at
    k-fold data with a constant match set, which is exactly the
    retrieval regime (query selectivity does not grow with the
    corpus)."""
    from dataintegration_csvprovider_spark.queries.profiling import (
        chi2_drift_docs,
    )
    from dataintegration_csvprovider_spark.queries.textmining import (
        _bm25_scores_docs,
    )

    docs = spark.read.parquet(path)

    def diversity(d):
        tf = (
            d.select(
                "doc_id",
                F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias(
                    "term"
                ),
            )
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return tf.groupBy("doc_id").agg(
            (
                F.lit(1.0)
                - F.sum(F.col("c") * F.col("c")).cast("double")
                / (F.sum("c") * F.sum("c")).cast("double")
            ).alias("gini")
        )

    ops = {
        "bm25_scores": _bm25_scores_docs,
        "chi2_drift": lambda d: chi2_drift_docs(d),
        "lexical_diversity": diversity,
    }
    secs: dict[str, float] = {}
    for name, fn in ops.items():
        spark.sparkContext._jvm.System.gc()
        t0 = time.monotonic()
        _force(fn(docs))
        secs[name] = round(time.monotonic() - t0, 3)
    return secs


def probe_prefixsum(spark, path: str) -> dict[str, float]:
    """Distributed prefix-sum family (round-5): the two-phase cumsum and
    the operators riding it. All are one range shuffle + per-partition
    windows + an O(#partitions) driver fetch — wall-clock should track
    data volume, never partition-count blowups."""
    from dataintegration_csvprovider_spark.operators.scale import (
        distributed_cumsum,
        ks_two_sample,
        token_balanced_shards,
    )
    from dataintegration_csvprovider_spark.operators.sampling import (
        negative_samples,
    )

    docs = spark.read.parquet(path)
    toks = docs.select(
        "doc_id",
        F.size(
            F.filter(F.split("text", " "), lambda w: w != F.lit(""))
        ).cast("bigint").alias("n_tokens"),
    )
    ops = {
        "cumsum_multi": lambda d: distributed_cumsum(
            d, "doc_id", ["n_tokens", "n_tokens"], ["c1", "c2"]
        ),
        "token_shards": lambda d: token_balanced_shards(
            d, "doc_id", "n_tokens", 32
        ),
        "ks_two_sample": lambda d: ks_two_sample(
            d.filter(F.col("doc_id") % 2 == 0),
            d.filter(F.col("doc_id") % 2 == 1),
            "n_tokens",
        ),
        "negative_samples": lambda d: negative_samples(d, "doc_id", k=3),
    }
    secs: dict[str, float] = {}
    for name, fn in ops.items():
        spark.sparkContext._jvm.System.gc()
        t0 = time.monotonic()
        _force(fn(toks))
        secs[name] = round(time.monotonic() - t0, 3)
    return secs


def probe_filters(spark, path: str) -> dict[str, float]:
    """Round-6 filters/chunking family: RAG sliding-window chunking (a
    narrow zero-shuffle transform — must be exactly linear), Hellinger
    drift (two term counts + one term-keyed join — linear in tokens),
    and the Bloom probe against a CONSTANT key set (three element_at
    expressions per row — linear in fact rows, the runtime-filter
    regime: the dimension does not grow with the fact table)."""
    from dataintegration_csvprovider_spark.operators.pii import (
        pii_audit,
        pii_redact,
    )
    from dataintegration_csvprovider_spark.operators.scale import (
        bloom_flag,
    )
    from dataintegration_csvprovider_spark.operators.textstats import (
        sliding_token_chunks,
    )
    from dataintegration_csvprovider_spark.queries.profiling import (
        hellinger_drift_docs,
    )

    docs = spark.read.parquet(path)
    # constant dim: copy-0 ids only, so the filter is identical at every
    # multiplier and only the probed fact side grows
    keys = (
        docs.filter(
            (F.col("doc_id") < 10_000_000) & (F.col("doc_id") % 7 == 0)
        ).select("doc_id")
    )
    ops = {
        "chunk_sliding": lambda d: sliding_token_chunks(d),
        "hellinger_drift": lambda d: hellinger_drift_docs(d),
        "bloom_probe": lambda d: bloom_flag(
            d, keys, "doc_id", "doc_id"
        ),
        # round-10 regex battery: per-row codegen'd regexp work — a
        # narrow zero-shuffle transform that must be exactly linear
        "pii_audit": lambda d: pii_audit(d.select("doc_id", "text")),
        "pii_redact": lambda d: pii_redact(d.select("doc_id", "text")),
    }
    secs: dict[str, float] = {}
    for name, fn in ops.items():
        spark.sparkContext._jvm.System.gc()
        t0 = time.monotonic()
        _force(fn(docs))
        secs[name] = round(time.monotonic() - t0, 3)
    return secs


def probe_sketches(spark, path: str) -> dict[str, float]:
    """Round-8 mergeable-sketch family: the design claim is that the
    partition-parallel BUILD is the only data-scaled stage (expect
    ~linear ratios) while MERGE and the persisted-ledger APPLY touch
    only bounded artifacts (k·levels rows / 64 values — expect FLAT
    ratios at any multiplier). This probe measures both halves instead
    of asserting them."""
    import shutil as _shutil
    import tempfile as _tempfile

    from dataintegration_csvprovider_spark.operators.sketches import (
        collect_grouped_kmv,
        collect_grouped_sketch,
        collect_sketch,
        grouped_kmv_sketch_rows,
        grouped_quantile_sketch_rows,
        kmv_merge,
        kmv_sketch,
        mrl_merge,
        quantile_sketch_rows,
        sketch_ledger_apply,
    )

    docs = spark.read.parquet(path)
    vals = docs.select("doc_id", F.col("n_chars").cast("double").alias("v"))

    secs: dict[str, float] = {}

    def timed(name, fn):
        spark.sparkContext._jvm.System.gc()
        t0 = time.monotonic()
        fn()
        secs[name] = round(time.monotonic() - t0, 3)

    # data-scaled stages: expect ~linear growth
    timed("mrl_build", lambda: _force(quantile_sketch_rows(vals, "v")))
    timed(
        "mrl_grouped_build",
        lambda: _force(grouped_quantile_sketch_rows(docs, "lang", "n_chars")),
    )
    timed("kmv_build", lambda: kmv_sketch(vals, "doc_id"))
    timed(
        "kmv_grouped_build",
        lambda: collect_grouped_kmv(
            grouped_kmv_sketch_rows(docs, "lang", "doc_id")
        ),
    )

    # bounded-artifact stages: inputs are k·levels rows / 64 values
    # REGARDLESS of the data multiplier — expect flat ratios
    half_a = collect_sketch(
        quantile_sketch_rows(vals.filter(F.col("doc_id") % 2 == 0), "v")
    )
    half_b = collect_sketch(
        quantile_sketch_rows(vals.filter(F.col("doc_id") % 2 == 1), "v")
    )
    timed("mrl_merge", lambda: mrl_merge([half_a, half_b]))
    kmv_a = kmv_sketch(vals.filter(F.col("doc_id") % 2 == 0), "doc_id")
    kmv_b = kmv_sketch(vals.filter(F.col("doc_id") % 2 == 1), "doc_id")
    timed("kmv_merge", lambda: kmv_merge([kmv_a, kmv_b]))
    batch = collect_grouped_sketch(
        grouped_quantile_sketch_rows(docs, "lang", "n_chars")
    )
    ledger_root = _tempfile.mkdtemp(prefix="probe_ledger_")
    try:
        timed(
            "ledger_apply",
            lambda: sketch_ledger_apply(
                spark, f"{ledger_root}/ledger", batch, 0
            ),
        )
    finally:
        _shutil.rmtree(ledger_root, ignore_errors=True)
    return secs


def probe_ops(spark, path: str) -> dict[str, float]:
    docs = spark.read.parquet(path)
    ops = {
        "exact": lambda d: dedup.dedup_exact(d, ["text"], "doc_id"),
        "minhash_pairs": lambda d: dedup.minhash_near_dup_pairs(d),
        "simhash_pairs": lambda d: dedup.simhash_near_dup_pairs(d),
        "ngram_jaccard": lambda d: dedup.ngram_jaccard_pairs(d),
        "span_dedup": lambda d: dedup.dedup_spans_across_corpus(d),
    }
    secs: dict[str, float] = {}
    for name, fn in ops.items():
        spark.sparkContext._jvm.System.gc()
        t0 = time.monotonic()
        _force(fn(docs))
        secs[name] = round(time.monotonic() - t0, 3)
    return secs


def probe_textsim(spark, path: str) -> dict[str, float]:
    """Round-10 text-similarity family: the reworked pair generators.
    tfidf_prefix_cosine is the AllPairs prefix-filter + exact-decimal
    verify plan (queries/llm.py q_tfidf_cosine_pairs) — the full Σdf²
    self-join it replaced measured 343s at 1x, i.e. it would not even
    finish a 10x probe; the filter's candidates grow with the corpus
    (cross-copy similarity is zero by construction, so ~k-fold, never
    k²-fold). ngram_jaccard_index is the inverted-index exact-Jaccard
    pair generator the round-10 oracles now mirror. Expect ~linear
    ratios; super-linear is a scale bug."""
    import shutil as _shutil
    import tempfile as _tempfile

    from dataintegration_csvprovider_spark.queries.llm import (
        q_dedup_ngram_jaccard,
        q_tfidf_cosine_pairs,
    )

    root = _tempfile.mkdtemp(prefix="textsim_sf_")
    spark.read.parquet(path).write.mode("overwrite").parquet(
        f"{root}/documents.parquet"
    )
    secs: dict[str, float] = {}

    def timed(name, fn):
        spark.sparkContext._jvm.System.gc()
        t0 = time.monotonic()
        fn()
        secs[name] = round(time.monotonic() - t0, 3)

    try:
        timed(
            "tfidf_prefix_cosine",
            lambda: q_tfidf_cosine_pairs(spark, root).count(),
        )
        timed(
            "ngram_jaccard_index",
            lambda: q_dedup_ngram_jaccard(spark, root).count(),
        )
    finally:
        _shutil.rmtree(root, ignore_errors=True)
    return secs


def build_scaled_skew(spark, mult: int, out_dir: str) -> None:
    """Adversarially Zipf-skewed join fact table: 30% of rows land on ONE
    hot key (key 0), the rest spread uniformly over 10k keys — the
    classic skew-join benchmark shape. Built from lineitem row numbers so
    it is deterministic and scales with the multiplier (~600k rows per
    copy at sf0.1); the dim side (all 10k keys) is constant, written next
    to the fact so the probe joins real parquet at every scale."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.monotonically_increasing_id().alias("rid"),
        (F.col("l_extendedprice").cast("double")).alias("payload"),
    )
    copies = []
    for k in range(mult):
        # reduce rid BEFORE the mixing multiply: the raw
        # monotonically_increasing_id carries the partition id in the
        # high bits (~2^60), and rid * prime overflows ANSI bigint
        r = F.pmod(F.col("rid"), 100_000)
        copies.append(
            li.select(
                F.when(F.col("rid") % 10 < 3, F.lit(0))
                .otherwise(F.pmod(r * 7919 + k, 10_000))
                .cast("bigint")
                .alias("key"),
                "payload",
            )
        )
    df = copies[0]
    for c in copies[1:]:
        df = df.unionByName(c)
    df.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/fact")
    spark.range(10_000).select(
        F.col("id").alias("key"),
        (F.col("id") % 97).cast("double").alias("dim_val"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/dim")


def probe_skew(spark, path: str) -> dict[str, float]:
    """Round-11 skew-hardening probe (the r10 verdict's item 6): measure
    the THREE plan choices for a hot-key equi-join on the same data —
    AQE's skew-join split, the explicit salted plan, and the broadcast
    hash join — instead of asserting which wins. Broadcast is forced OFF
    for the first three ops (the 100 TB regime where the dim outgrows a
    broadcast) and ON for the last (the regime where it doesn't; at a
    10k-row dim broadcast should dominate everything, which is exactly
    the recorded lesson). The AQE skew thresholds are lowered so the
    split actually fires at probe scale (~25 MB hot partition at 10x;
    the default 256 MB threshold is sized for production partitions)."""
    from dataintegration_csvprovider_spark.operators.scale import (
        salted_join,
    )

    fact = spark.read.parquet(f"{path}/fact")
    dim = spark.read.parquet(f"{path}/dim")

    def agg(joined):
        return joined.groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("payload") + F.col("dim_val")).alias("s"),
        )

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }

    def run(name, fn, **confs):
        for k, v in confs.items():
            conf.set(k, v)
        try:
            spark.sparkContext._jvm.System.gc()
            t0 = time.monotonic()
            _force(agg(fn()))
            secs[name] = round(time.monotonic() - t0, 3)
        finally:
            for k, v in saved.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)

    secs: dict[str, float] = {}
    run(
        "shuffle_aqe_skew",
        lambda: fact.join(dim, "key"),
        **{
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                "4m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2m",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        },
    )
    run(
        "shuffle_no_skew",
        lambda: fact.join(dim, "key"),
        **{
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.enabled": "false",
        },
    )
    run(
        "salted_16",
        lambda: salted_join(fact, dim, on="key", salt_buckets=16),
        **{
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.enabled": "false",
        },
    )
    run("broadcast", lambda: fact.join(F.broadcast(dim), "key"))
    return secs


def probe_heads(spark, path: str) -> dict[str, float]:
    """Round-11 heavy-heads family (the r10 verdict's top item: the most
    expensive operators' 100 TB claims were argued above sf0.1, not
    measured). Probes the SPARK sides of the remaining un-probed heads —
    the tfidf AllPairs prefix-filter and the ngram-Jaccard index already
    live in the textsim family:

    - exact_substring_dedup / exact_substring_decontaminate: one
      gram-keyed shuffle (windows occurring >=2x / eval-window semi-join)
      + a doc-partitioned island merge — expect ~linear in corpus tokens.
      Cross-copy grams are disjoint by the copy-tag construction, so the
      duplicated-window volume grows k-fold, never k².
    - containment: the containment-prefix candidate path — only the
      (1-t)|T|+1 eval-rarest grams of each training doc probe the eval
      index; per-copy eval/train structure is preserved, so candidates
      grow k-fold.
    - suite_batch_apply: ONE composed monitor-suite micro-batch (grouped
      MRL sketch + CMS cell counts + KMV, committed through a generation
      ledger) over the full scaled frame — the data-scaled half of
      q_stream_monitor_suite's per-batch cost (the ledger read/commit
      half is bounded at groups·k·levels + 256 cells + 65 rows and is
      probed flat in the sketches family).
    """
    import shutil as _shutil
    import tempfile as _tempfile

    from dataintegration_csvprovider_spark.operators.dedup import (
        containment_pairs,
        exact_substring_decontaminate,
        exact_substring_dedup,
    )
    from dataintegration_csvprovider_spark.operators.sketches import (
        cms_cells,
        collect_grouped_sketch,
        grouped_quantile_sketch_rows,
        kmv_sketch,
        rows_ledger_commit,
        rows_ledger_read,
        sketch_ledger_apply,
    )

    docs = spark.read.parquet(path)
    train = docs.filter(F.col("source") != "src0")
    ev = docs.filter(F.col("source") == "src0")

    def suite_batch(d):
        # the same three family applies q_stream_monitor_suite runs per
        # micro-batch, on a documents-derived stand-in batch frame
        bdf = d.select(
            F.col("doc_id").alias("user_id"),
            F.col("lang").alias("win"),
            F.col("n_chars").cast("double").alias("value"),
        )
        root = _tempfile.mkdtemp(prefix="heads_ledger_")
        try:
            sk = collect_grouped_sketch(
                grouped_quantile_sketch_rows(
                    bdf.filter(F.col("value").isNotNull()), "win", "value"
                )
            )
            sketch_ledger_apply(spark, f"{root}/mrl", sk, 0)
            cells = bdf.select(cms_cells(F.col("user_id")))
            state = {
                (int(r["i"]), int(r["bucket"])): int(r["count"])
                for r in cells.groupBy("i", "bucket").count().collect()
            }
            rows_ledger_commit(
                spark, f"{root}/cms",
                [(i, b, c) for (i, b), c in sorted(state.items())],
                "i int, bucket bigint, c bigint", 0, applied_through=-1,
            )
            vals, n = kmv_sketch(
                bdf.filter(F.col("user_id").isNotNull()), "user_id"
            )
            rows_ledger_commit(
                spark, f"{root}/kmv",
                [("h", v) for v in vals] + [("n", n)],
                "kind string, v long", 0, applied_through=-1,
            )
            rows_ledger_read(spark, f"{root}/cms")
        finally:
            _shutil.rmtree(root, ignore_errors=True)

    secs: dict[str, float] = {}

    def timed(name, fn):
        spark.sparkContext._jvm.System.gc()
        t0 = time.monotonic()
        fn()
        secs[name] = round(time.monotonic() - t0, 3)

    timed(
        "exact_substring_dedup",
        lambda: _force(
            exact_substring_dedup(
                docs.select("doc_id", "text"), min_tokens=10
            )
        ),
    )
    timed(
        "exact_substring_decon",
        lambda: _force(
            exact_substring_decontaminate(
                train.select("doc_id", "text"),
                ev.select("doc_id", "text"),
                min_tokens=10,
            )
        ),
    )
    timed(
        "containment",
        lambda: _force(containment_pairs(train, ev, n=2, threshold=0.8)),
    )
    timed("suite_batch_apply", lambda: suite_batch(docs))
    return secs


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--multipliers", nargs="+", type=int, default=[1, 3, 10])
    ap.add_argument(
        "--family",
        choices=["dedup", "similarity", "graph", "curation", "prefixsum",
                 "retrieval", "filters", "sketches", "textsim", "heads",
                 "skew"],
        default="dedup",
        help="dedup probes the documents table; similarity the "
        "embeddings; graph an orders-derived edge list",
    )
    args = ap.parse_args()

    build, probe = {
        "dedup": (build_scaled, probe_ops),
        "similarity": (build_scaled_embeddings, probe_similarity),
        "graph": (build_scaled_edges, probe_graph),
        "curation": (build_scaled, probe_curation),
        "prefixsum": (build_scaled, probe_prefixsum),
        "retrieval": (build_scaled, probe_retrieval),
        "filters": (build_scaled, probe_filters),
        "sketches": (build_scaled, probe_sketches),
        "textsim": (build_scaled, probe_textsim),
        "heads": (build_scaled, probe_heads),
        "skew": (build_scaled_skew, probe_skew),
    }[args.family]

    spark = get_spark(app_name="scale_probe")
    root = tempfile.mkdtemp(prefix="scale_probe_")
    rows: dict[int, int] = {}
    secs: dict[str, dict[int, float]] = {}
    try:
        warmed = False
        for mult in args.multipliers:
            d = f"{root}/x{mult}"
            build(spark, mult, d)
            # skew writes fact/ + dim/ subdirs; row count = the fact side
            count_dir = f"{d}/fact" if args.family == "skew" else d
            rows[mult] = spark.read.parquet(count_dir).count()
            if not warmed:
                # session warm-up: run the whole op set once untimed so
                # the first measured scale doesn't absorb JVM/codegen/
                # Python-worker startup (measured ~2x inflation otherwise)
                probe(spark, d)
                warmed = True
            for op, s in probe(spark, d).items():
                secs.setdefault(op, {})[mult] = s
            print(f"# x{mult}: rows={rows[mult]} {secs_at(secs, mult)}",
                  file=sys.stderr)
        lo, hi = min(args.multipliers), max(args.multipliers)
        ratios = {
            op: round(by_mult[hi] / max(by_mult[lo], 1e-9), 2)
            for op, by_mult in secs.items()
        }
        print(json.dumps({"rows": rows, "secs": secs, "ratios": ratios}))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def secs_at(secs: dict[str, dict[int, float]], mult: int) -> str:
    return " ".join(f"{op}={by[mult]}" for op, by in secs.items() if mult in by)


if __name__ == "__main__":
    main()
