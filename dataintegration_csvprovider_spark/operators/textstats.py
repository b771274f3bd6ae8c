"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting. Pure Column expressions (codegen'd) except the
compression-ratio signal, which is inherently per-row compression work
and rides an Arrow-batched pandas_udf.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._util import spread as _spread

#: tiny per-language stopword profiles for the n-gram/stopword heuristic.
#: Real pipelines plug fastText/CLD3 in via pandas_udf; the heuristic is
#: the dependency-free baseline and is exactly SQL-expressible.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "des"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "que"),
}

#: BPE-ish token regex: word pieces, numbers, or single non-space symbols
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def words(text: Column) -> Column:
    return F.split(text, "\\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count (bigint)."""
    return F.size(words(text)).cast("bigint")


def bpe_token_count(text: Column) -> Column:
    """Sub-word-ish token count via the BPE-style regex (bigint)."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_RE)).cast("bigint")


def stopword_ratio(text: Column, stopwords: tuple[str, ...]) -> Column:
    ws = words(text)
    sw = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(ws, lambda w: F.array_contains(sw, F.lower(w))))
    return (hits / F.greatest(F.size(ws), F.lit(1))).cast("double")


def text_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add quality-signal columns: lengths, token counts, punct/digit/
    uppercase ratios, mean word length, stopword ratio — the standard
    cheap filters (C4/Gopher-style) before expensive model scoring."""
    t = F.col(text_col)
    ws = words(t)
    n_chars = F.length(t).cast("bigint")
    n_tokens = F.size(ws).cast("bigint")
    safe_chars = F.greatest(n_chars, F.lit(1))
    return (
        _spread(df).withColumn("n_chars", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("n_bpe_tokens", bpe_token_count(t))
        .withColumn(
            "punct_ratio",
            (F.regexp_count(t, F.lit("[.,;:!?]")) / safe_chars).cast("double"),
        )
        .withColumn(
            "digit_ratio",
            (F.regexp_count(t, F.lit("[0-9]")) / safe_chars).cast("double"),
        )
        .withColumn(
            "upper_ratio",
            (F.regexp_count(t, F.lit("[A-Z]")) / safe_chars).cast("double"),
        )
        .withColumn(
            "mean_word_len",
            (
                F.aggregate(
                    ws, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
                )
                / F.greatest(F.size(ws), F.lit(1))
            ).cast("double"),
        )
        .withColumn("stopword_ratio", stopword_ratio(t, LANG_STOPWORDS["en"]))
    )


def language_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts (the heuristic's evidence)."""
    ws = F.transform(words(text), F.lower)
    out: dict[str, Column] = {}
    for lang, stops in LANG_STOPWORDS.items():
        sw = F.array(*[F.lit(s) for s in stops])
        out[lang] = F.size(F.filter(ws, lambda w: F.array_contains(sw, w))).cast("int")
    return out


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Classify via argmax of stopword-profile scores, 'und' (undetermined)
    when no profile hits; ties broken by language code order. Deliberately
    branch-explicit (CASE chain) so the SQL oracle is the same program."""
    scores = language_scores(F.col(text_col))
    langs = sorted(scores)  # deterministic tie order: first max wins
    mx = F.greatest(*scores.values())
    chain = F.when((mx > 0) & (scores[langs[0]] == mx), F.lit(langs[0]))
    for lang in langs[1:]:
        chain = chain.when((mx > 0) & (scores[lang] == mx), F.lit(lang))
    detected = F.coalesce(chain, F.lit("und"))
    out = _spread(df).withColumn("detected_lang", detected)
    for lang in langs:
        out = out.withColumn(f"score_{lang}", scores[lang])
    return out


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_top_word_frac: float = 0.3,
    max_top_bigram_frac: float = 0.18,
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021
    §A1.1): the fraction of tokens taken by the single most frequent
    word / word-bigram, plus the distinct-word ratio, and a
    ``repetitive`` flag at the given thresholds.

    Shape: explode → count per (doc, term) → per-doc max/sum — linear
    work, two doc-keyed shuffles, no per-doc quadratic HOF loops (a
    10k-line doc would make the pure-expression nested-loop variant
    O(L²); this stays O(L) and partition-parallel at 100 TB). The two
    term-level aggregates join back on the doc key they are already
    partitioned by.
    """
    toks = F.filter(words(F.col(text_col)), lambda t: t != F.lit(""))
    base = _spread(df.select(id_col, text_col)).select(
        F.col(id_col).alias("__id"), toks.alias("__toks")
    )
    word_rows = base.select("__id", F.explode("__toks").alias("term"))
    per_doc_words = (
        word_rows.groupBy("__id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("__id")
        .agg(
            F.max("c").alias("top_word"),
            F.sum("c").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("__toks") - 1, F.lit(0))),
        lambda i: F.concat_ws(
            " ", F.element_at("__toks", i), F.element_at("__toks", i + 1)
        ),
    )
    bigram_rows = base.filter(F.size("__toks") >= 2).select(
        "__id", F.explode(bigrams).alias("term")
    )
    per_doc_bigrams = (
        bigram_rows.groupBy("__id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("__id")
        .agg(F.max("c").alias("top_bigram"), F.sum("c").alias("n_bigrams"))
    )
    top_word_frac = (F.col("top_word") / F.col("n_words")).cast("double")
    top_bigram_frac = F.coalesce(
        (F.col("top_bigram") / F.col("n_bigrams")).cast("double"), F.lit(0.0)
    )
    return (
        per_doc_words.join(per_doc_bigrams, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.col("n_words").cast("bigint").alias("n_words"),
            (F.col("n_distinct") / F.col("n_words"))
            .cast("double")
            .alias("distinct_word_ratio"),
            top_word_frac.alias("top_word_frac"),
            top_bigram_frac.alias("top_bigram_frac"),
            (
                (top_word_frac > max_top_word_frac)
                | (top_bigram_frac > max_top_bigram_frac)
            ).alias("repetitive"),
        )
    )


def doc_fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Order-sensitive 64-bit rolling fingerprint: fold word hashes with a
    multiply-xor step (same spirit as Rabin-Karp; content-defined, cheap,
    and stable across partitionings since it's per-row)."""
    hashes = F.transform(words(F.col(text_col)), lambda w: F.xxhash64(w))
    fp = F.aggregate(
        hashes,
        F.lit(1469598103934665603).cast("bigint"),  # FNV offset basis
        lambda acc, h: F.xxhash64(acc, h),
    )
    return _spread(df.select(id_col, F.col(text_col))).withColumn("fingerprint", fp)


def compression_ratio(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``zlib_len`` and ``compression_ratio`` (compressed/raw bytes)
    — the Gopher-family cheap quality signal: highly repetitive or
    templated documents compress far below natural prose (~0.3-0.6 for
    English text; boilerplate/spam dips under ~0.25), so a low ratio is
    a strong dedup-adjacent junk flag without any model. zlib level 6 is
    pinned so the ratio is bit-deterministic across runs and machines
    (RFC 1951 output for a given level/strategy/library is stable).

    Arrow-batched ``pandas_udf`` — compression is inherently per-row
    Python/C work, but the bytes never leave the executor and transfer
    is columnar."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def zlen(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), 6))
            if t is not None
            else None
        )

    t = F.col(text_col)
    raw_len = F.length(F.to_binary(t, F.lit("utf-8"))).cast("bigint")
    out = df.withColumn("zlib_len", zlen(t)).withColumn(
        "compression_ratio",
        (F.col("zlib_len") / F.greatest(raw_len, F.lit(1))).cast("double"),
    )
    return out


def bigram_lm_score(
    df: DataFrame,
    train_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Corpus-trained bigram language-model fluency score — the
    dependency-free core of CCNet-style LM filtering (Wenzek et al.
    2020 score web text with a wiki-trained KenLM and keep the fluent
    tail; here the LM is a smoothed bigram model trained ON
    ``train_df``, default the scored corpus itself).

    Per document: the mean transition probability over its word
    bigrams, p(w2|w1) = (c(w1,w2) + alpha) / (c(w1,*) + alpha*V) —
    add-alpha smoothing over the train vocabulary V, so cross-corpus
    scoring of unseen bigrams is well-defined (an unseen first word
    scores 1/V). The MEAN probability is used instead of log-perplexity
    deliberately: every term is a ratio of integers plus an exact
    binary constant, IEEE-identical across engines, and the sum runs
    through decimal(18,12) so the result is order-independent — the
    registry's no-ln convention (ln differs by ULPs across libms and
    would break oracle hashes). Ranking behavior matches perplexity
    closely enough for a keep/drop gate: garbled text has uniformly
    tiny transition probabilities, boilerplate uniformly large ones.

    Scale shape: bigram counting is one keyed shuffle with map-side
    combine over the train corpus; scoring joins the scored corpus's
    bigrams against the count tables on (w1, w2) then w1 — keyed
    equi-joins on a Zipf-headed key (AQE skew handling applies); the
    vocabulary size is a broadcast 1-row aggregate. No driver-side
    model, no UDFs.

    Returns (id, n_bigrams, mean_p); docs with < 2 words score NULL
    mean_p over 0 bigrams (no transitions exist).
    """
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (unsmoothed LMs divide by zero)")

    def doc_bigrams(d: DataFrame, keep_id: bool):
        toks = F.filter(
            F.split(F.col(text_col), " "), lambda t: t != F.lit("")
        )
        pairs = F.when(
            F.size(toks) >= 2,
            F.zip_with(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        cols = [F.col(id_col).alias("__id")] if keep_id else []
        return d.select(*cols, F.explode(pairs).alias("bg")).select(
            *(["__id"] if keep_id else []),
            F.col("bg.w1").alias("w1"),
            F.col("bg.w2").alias("w2"),
        )

    sb = doc_bigrams(df, keep_id=True)
    # self-training derives the train bigrams from the SAME subtree as
    # the scored side (projection of sb) so the tokenize/explode work is
    # shared and Spark's exchange reuse can kick in, instead of scanning
    # and exploding the corpus twice
    tb = (
        doc_bigrams(train_df, keep_id=False)
        if train_df is not None
        else sb.select("w1", "w2")
    )
    c2 = tb.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = tb.select("w2").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("V")
    )
    scored = (
        sb.join(c2, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .join(F.broadcast(vocab))
        .withColumn(
            "p",
            (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(alpha))
            / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(alpha) * F.col("V")),
        )
    )
    # mean_p reports at 9 decimals (the registry's fixed-precision
    # convention): the per-term decimal(18,12) cast can land EXACTLY on
    # a rounding midpoint when p is a short dyadic — p = (2*c2+1) /
    # (2*c1 + V) is odd/2^k whenever (2*c1 + V)'s odd part divides the
    # numerator, which needs an EVEN V and so first surfaced on the
    # round-12 sf1 fixture (V=620) — and there Spark rounds half-up
    # while DuckDB rounds half-even. Rounding the mean at 9 sits three
    # orders above the 1e-12 midpoint noise.
    # decimal-sum-ok: per-document frame, p <= 1 (see q_lm_quality_score)
    per_doc = scored.groupBy("__id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.round(
            (
                F.sum(F.col("p").cast("decimal(18,12)")).cast("double")
                / F.count(F.lit(1))
            ).cast("double"),
            9,
        ).alias("mean_p"),
    )
    ids = df.select(F.col(id_col).alias("__id")).distinct()
    return ids.join(per_doc, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.coalesce("n_bigrams", F.lit(0).cast("bigint")).alias("n_bigrams"),
        F.col("mean_p"),
    )


def filter_funnel(
    df: DataFrame,
    rules: list[tuple[str, Column]],
) -> DataFrame:
    """Sequential filter-funnel accounting — the per-rule drop table
    every curation report publishes (cf. RefinedWeb/Gopher dataset
    papers: 'rule X removed N% of documents'): given ordered (name,
    keep-predicate) rules, report for each stage how many rows reached
    it, failed exactly there (passed every earlier rule), and survived.

    ONE scan and ONE single-row aggregation regardless of rule count —
    each stage is a conjunction column and the whole funnel is a set of
    conditional counts; the reshape to one-row-per-rule happens on the
    1×(2k) aggregate via stack, not on the data. This is the cheap
    observability pass you run BEFORE materializing a filtered corpus:
    at 100 TB the difference between this and k sequential
    count-after-filter jobs is k full scans.

    Returns (stage, rule, n_in, n_failed_here, n_surviving), stage
    1-based in rule order; n_in of stage i == n_surviving of stage i-1.
    """
    if not rules:
        raise ValueError("rules must be non-empty")
    names = [n for n, _ in rules]
    if len(set(names)) != len(names):
        raise ValueError("rule names must be unique")

    survive = F.lit(True)
    aggs = [F.count(F.lit(1)).alias("__n0")]
    for i, (_, raw_pred) in enumerate(rules, start=1):
        # NULL keep-predicates (e.g. a comparison on a NULL column) count
        # as failures AT THIS STAGE — otherwise the row is in n_in but in
        # neither n_failed_here nor n_surviving and the funnel identity
        # n_failed_here + n_surviving == n_in silently breaks
        pred = F.coalesce(raw_pred, F.lit(False))
        prev = survive
        survive = survive & pred
        aggs.append(
            F.sum((prev & ~pred).cast("bigint")).alias(f"__f{i}")
        )
        aggs.append(F.sum(survive.cast("bigint")).alias(f"__s{i}"))
    row = df.agg(*aggs)

    # reshape the 1-row aggregate: stage i reads n_in from stage i-1's
    # survivor count (stage 1 from the input count)
    stack_args: list[Column] = []
    for i, name in enumerate(names, start=1):
        n_in = F.col("__n0") if i == 1 else F.col(f"__s{i-1}")
        stack_args += [
            F.lit(i),
            F.lit(name),
            n_in,
            F.col(f"__f{i}"),
            F.col(f"__s{i}"),
        ]
    n = len(names)
    return row.select(
        F.stack(
            F.lit(n),
            *stack_args,
        ).alias("stage", "rule", "n_in", "n_failed_here", "n_surviving")
    ).select(
        F.col("stage").cast("int").alias("stage"),
        "rule",
        F.col("n_in").cast("bigint").alias("n_in"),
        F.col("n_failed_here").cast("bigint").alias("n_failed_here"),
        F.col("n_surviving").cast("bigint").alias("n_surviving"),
    )


def scrub_boilerplate_lines(
    df: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    group_cols: tuple[str, ...] = ("source",),
    words_per_line: int = 8,
    min_docs: int = 3,
) -> DataFrame:
    """Cross-document duplicate-line removal — the RefinedWeb/CCNet
    boilerplate scrub: a "line" that appears verbatim in >= ``min_docs``
    DISTINCT documents of the same group (same ``source``/domain in the
    fixture — nav bars, footers, cookie banners repeat within a domain)
    is deleted from every document; surviving lines are rejoined in
    original order.

    The fixture corpus has no newlines, so a "line" is a tumbling window
    of ``words_per_line`` whitespace words — the operator's counting /
    scrubbing / reassembly logic is separator-agnostic (swap the line
    derivation for ``split(text, '\\n')`` on real corpora).

    Scale shape: one posexplode to the line table (O(total_lines) rows,
    linear in corpus size — never pairwise), one (group, line) count
    with map-side partial aggregation (boilerplate lines are exactly the
    high-frequency keys, so the partial combine collapses them early),
    one keyed join back, one per-doc reassembly groupBy. All built-in
    expressions; no UDFs.

    Returns (doc, text_scrubbed, n_lines, n_lines_dropped) — one row per
    input document, fully-scrubbed docs keep an empty string.
    """
    if words_per_line < 1 or min_docs < 1:
        raise ValueError("words_per_line and min_docs must be >= 1")
    gcols = list(group_cols)
    words = F.filter(
        F.split(F.col(text_col), " "), lambda t: t != F.lit("")
    )
    w = words_per_line
    lines_arr = F.when(F.size(words) == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(
                F.lit(0), F.ceil(F.size(words) / w).cast("int") - 1
            ),
            lambda i: F.array_join(F.slice(words, i * w + 1, w), " "),
        )
    )
    lines = df.select(
        F.col(doc_col).alias("__doc"),
        *[F.col(c).alias(f"__g{k}") for k, c in enumerate(gcols)],
        F.posexplode_outer(lines_arr).alias("__pos", "__line"),
    )
    gkeys = [f"__g{k}" for k in range(len(gcols))]
    counts = (
        lines.filter(F.col("__line").isNotNull())
        .groupBy(*gkeys, "__line")
        .agg(F.count_distinct("__doc").alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select(*gkeys, "__line", F.lit(True).alias("__boiler"))
    )
    flagged = lines.join(counts, gkeys + ["__line"], "left")
    return (
        flagged.groupBy("__doc")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__boiler").isNull()
                                & F.col("__line").isNotNull(),
                                F.struct("__pos", "__line"),
                            )
                        )
                    ),
                    lambda s: s["__line"],
                ),
                " ",
            ).alias("text_scrubbed"),
            F.sum(
                F.col("__line").isNotNull().cast("bigint")
            ).alias("n_lines"),
            F.sum(
                F.coalesce(F.col("__boiler"), F.lit(False)).cast("bigint")
            ).alias("n_lines_dropped"),
        )
        .select(
            F.col("__doc").alias(doc_col),
            "text_scrubbed",
            F.col("n_lines").cast("bigint").alias("n_lines"),
            F.col("n_lines_dropped").cast("bigint").alias("n_lines_dropped"),
        )
    )


def dsir_importance(
    df: DataFrame,
    target_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style data-selection importance score (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score every raw document by how much its unigram distribution looks
    like a TARGET domain corpus rather than the raw corpus — the
    distribution-shift half of DSIR (the resampling half is a window
    top-k / q_temperature_sample over this score).

    Per token w the likelihood ratio under add-one-smoothed unigram
    models is

        lr(w) = p_target(w) / p_raw(w)
              = ((c_t(w)+1) * (N_r+V)) / ((c_r(w)+1) * (N_t+V))

    with V the joint vocabulary size. The per-document score is the
    MEAN of lr over its tokens, not the log-weight sum the paper uses:
    every lr term is one IEEE division of exact integers (correctly
    rounded, identical across engines) and the sum runs through
    decimal(28,12) so the result is order-independent — the registry's
    no-ln convention (libm log differs by ULPs across engines and would
    break oracle hashes). Mean-lr is a monotone-enough proxy for the
    keep/drop gate: target-like tokens have lr > 1, off-domain tokens
    lr << 1. DSIR proper hashes n-grams into 10k buckets before
    counting; the fixture vocabulary is tiny so raw unigrams are used
    — at 100 TB put ``xxhash64(w) % B`` in front of both counts (the
    shape below is unchanged; the oracle then becomes rows-only since
    DuckDB lacks xxhash64).

    Scale shape: two unigram-count shuffles (raw + target, both with
    map-side combine), one keyed join of exploded doc tokens against
    each count table (Zipf-headed key — AQE skew handling applies), and
    a broadcast 1-row (N_t, N_r, V) aggregate. No UDFs, no driver-side
    model.

    Returns (id, n_words, mean_lr); empty docs score NULL over 0 words.
    """
    toks = F.filter(
        F.split(F.col(text_col), " "), lambda t: t != F.lit("")
    )
    raw = df.select(
        F.col(id_col).alias("__id"), F.explode(toks).alias("w")
    )
    tgt = target_df.select(F.explode(toks).alias("w"))
    cr = raw.groupBy("w").agg(F.count(F.lit(1)).alias("c_r"))
    ct = tgt.groupBy("w").agg(F.count(F.lit(1)).alias("c_t"))
    totals = (
        cr.join(ct, "w", "full")
        .agg(
            F.sum(F.coalesce("c_r", F.lit(0))).alias("N_r"),
            F.sum(F.coalesce("c_t", F.lit(0))).alias("N_t"),
            F.count(F.lit(1)).alias("V"),
        )
    )
    scored = (
        raw.join(cr, "w")  # every raw token is in the raw counts
        .join(ct, "w", "left")
        .join(F.broadcast(totals))
        .withColumn(
            "lr",
            (
                (F.coalesce(F.col("c_t"), F.lit(0)) + F.lit(1)).cast("double")
                * (F.col("N_r") + F.col("V")).cast("double")
            )
            / (
                (F.col("c_r") + F.lit(1)).cast("double")
                * (F.col("N_t") + F.col("V")).cast("double")
            ),
        )
    )
    from ..queries.registry import exact_sum

    per_doc = scored.groupBy("__id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        (exact_sum(F.col("lr"), scale=12) / F.count(F.lit(1)))
        .cast("double").alias("mean_lr"),
    )
    ids = df.select(F.col(id_col).alias("__id")).distinct()
    return ids.join(per_doc, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.coalesce("n_words", F.lit(0).cast("bigint")).alias("n_words"),
        F.col("mean_lr"),
    )


def span_corruption(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 3,
    mask_every: int = 4,
) -> DataFrame:
    """T5-style span-corruption pair generation (Raffel et al. 2020):
    split each document into ``span_words``-word spans, mask every
    ``mask_every``-th span, and emit the (input, target) training pair —
    input keeps the visible text with one ``<extra_id_k>`` sentinel per
    masked span, target is the sentinel-prefixed concatenation of the
    masked spans.

    T5 proper samples mask positions; this is the STRIDE-deterministic
    analog (the registry's RNG-free convention, cf. stride_mix /
    epoch_shuffle): span s is masked iff ``s % mask_every ==
    mask_every - 1``, sentinel ordinal ``k = s // mask_every``. Masking
    rate = 1/mask_every, mean span length = span_words — the two knobs
    the paper tunes.

    Pure array expressions over one scan — transform-with-index, filter,
    array_join; no explode, no shuffle, no Python. Rows stream through
    whole-stage codegen at full width regardless of document size.

    Returns (id, n_words, n_masked, input, target); empty documents
    yield empty strings.
    """
    if span_words < 1 or mask_every < 2:
        raise ValueError("span_words >= 1 and mask_every >= 2 required")
    words = F.filter(
        F.split(F.col(text_col), " "), lambda t: t != F.lit("")
    )
    sw, me = span_words, mask_every

    def span_of(i: Column) -> Column:
        return (i / sw).cast("int")

    def is_masked(i: Column) -> Column:
        return span_of(i) % me == me - 1

    def sentinel(i: Column) -> Column:
        return F.concat(
            F.lit("<extra_id_"),
            (span_of(i) / me).cast("int").cast("string"),
            F.lit(">"),
        )

    def first_of_span(i: Column) -> Column:
        return i % sw == 0

    inp = F.array_join(
        F.filter(
            F.transform(
                words,
                lambda x, i: F.when(~is_masked(i), x).when(
                    first_of_span(i), sentinel(i)
                ),
            ),
            lambda t: t.isNotNull(),
        ),
        " ",
    )
    tgt = F.array_join(
        F.filter(
            F.transform(
                words,
                lambda x, i: F.when(
                    is_masked(i) & first_of_span(i),
                    F.concat(sentinel(i), F.lit(" "), x),
                ).when(is_masked(i), x),
            ),
            lambda t: t.isNotNull(),
        ),
        " ",
    )
    n_masked = F.size(
        F.filter(
            F.transform(words, lambda x, i: is_masked(i)),
            lambda b: b,
        )
    )
    return df.select(
        F.col(id_col),
        F.size(words).cast("bigint").alias("n_words"),
        n_masked.cast("bigint").alias("n_masked"),
        inp.alias("input"),
        tgt.alias("target"),
    )


def quality_ensemble_rank(
    df: DataFrame,
    score_cols: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """Rank-average ensemble of quality signals — the standard way to
    combine incommensurable filters (length, repetition, LM score, ...)
    into ONE curation ordering without calibrating scales: each signal
    is reduced to its global percent-rank (ties broken by id, so ranks
    are unique and engine-exact), and the ensemble score is the plain
    mean of the k percent-ranks (Borda-style; a document must look good
    under MOST signals to rank high).

    Every per-signal rank comes from the distributed prefix sum over
    (signal, id) — k range shuffles, NO single-partition
    ``Window.orderBy`` (the global-rank anti-pattern this module
    replaces everywhere). percent_rank = (rank-1)/(n-1) in double —
    engine-exact given the integer ranks; the mean is a fixed-order
    expression over k doubles.

    Returns the input ids with ``pr_<col>`` per signal and
    ``ensemble_score`` (higher = better under ascending signals).
    """
    from .scale import distributed_cumsum

    if not score_cols:
        raise ValueError("score_cols must be non-empty")
    out = df.select(id_col, *score_cols)
    n = out.count()
    if n < 2:
        raise ValueError("need >= 2 rows for percent ranks")
    for c in score_cols:
        ranked = distributed_cumsum(
            out.withColumn("__one", F.lit(1)),
            [c, id_col],
            "__one",
            "__rank",
        )
        out = ranked.withColumn(
            f"pr_{c}",
            ((F.col("__rank") - 1) / F.lit(float(n - 1))).cast("double"),
        ).drop("__one", "__rank")
    mean_expr = sum(
        (F.col(f"pr_{c}") for c in score_cols[1:]),
        F.col(f"pr_{score_cols[0]}"),
    ) / F.lit(float(len(score_cols)))
    return out.withColumn("ensemble_score", mean_expr.cast("double"))


def sliding_token_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 32,
    stride: int = 24,
) -> DataFrame:
    """RAG-style sliding-window chunking: cut each document's token
    stream into overlapping chunks of ``window`` tokens every ``stride``
    tokens (overlap = window - stride), the standard retrieval-index
    prep step (LangChain/LlamaIndex text splitters; fixed-size variant).

    Pure array expressions — split once, ``posexplode`` over the
    per-doc start sequence (ceil(n/stride) rows per doc, never a
    token-level explode), ``slice`` per chunk. A narrow per-row
    transform: no shuffle, no UDF, whole-stage codegen'd; at 100 TB it
    pipelines with the scan and the output is written partition-local.
    Chunk boundaries are token-index-deterministic, so re-chunking a
    grown corpus only touches new documents.

    Returns (id, chunk_idx, chunk_start, chunk_n_tokens, chunk_text);
    documents with no tokens produce no chunks. The tail chunk may be
    shorter than ``window`` (it clamps at the document end).
    """
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    toks = F.filter(
        F.split(F.col(text_col), " "), lambda t: t != F.lit("")
    )
    with_toks = df.select(
        F.col(id_col), toks.alias("__toks"), F.size(toks).alias("__n")
    ).filter(F.col("__n") > 0)
    exploded = with_toks.select(
        id_col,
        "__toks",
        F.posexplode(
            F.sequence(F.lit(0), F.col("__n") - 1, F.lit(stride))
        ).alias("chunk_idx", "chunk_start"),
    )
    chunk = F.slice(
        F.col("__toks"), F.col("chunk_start") + 1, F.lit(window)
    )
    return exploded.select(
        id_col,
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("chunk_start").cast("bigint").alias("chunk_start"),
        F.size(chunk).cast("bigint").alias("chunk_n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )
