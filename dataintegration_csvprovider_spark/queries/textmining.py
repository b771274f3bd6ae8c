"""Text-mining queries over the ``documents`` fixture: TF-IDF term
weighting and term co-occurrence association (lift).

Part of the LLM-pipeline surface (SURVEY.md §2.10): corpus-level term
statistics are the workhorse of quality filtering and topic slicing at
training-data scale. The reference has no text analytics (it is a CSV
row pump, CSVProvider.cs:563-601); these queries extend the engine's
text family (textstats.py) with corpus-global weights.

Cross-engine determinism: both queries avoid ``ln`` — transcendental
libm results are not guaranteed bit-identical across engines — by using
*rational* formulations (BM25's idf argument without the log; lift =
PMI's exp scale). Every arithmetic step is integer counting or IEEE
double +,-,*,/ in an identical expression tree on both sides, so the
value hashes match exactly.

Scale notes (100 TB): token explode is embarrassingly parallel; TF is
one shuffle on (doc, term) with map-side partial aggregation; DF is one
shuffle on term. The corpus size N and the document-frequency table are
tiny relative to the corpus (vocab ≪ corpus) — DF broadcasts back onto
the TF table, so no big-side shuffle repeats. Co-occurrence restricts to
a bounded top-M vocabulary *before* the per-document pair expansion, so
the self-join blowup is capped at C(M,2) per document regardless of
corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import exact_sum, register, sql_exact_sum


def _doc_terms(docs: DataFrame) -> DataFrame:
    """(doc_id, term) token occurrences — whitespace tokens, empties out."""
    return docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")


@register(
    "q_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM toks WHERE term <> '' GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT COUNT(*) AS n FROM documents)
    SELECT doc_id, term, tf, tfidf FROM (
      SELECT tf.doc_id, tf.term, tf.tf,
             CAST(tf.tf AS DOUBLE) *
               ((CAST(n.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                / (CAST(df.df AS DOUBLE) + 0.5)) AS tfidf,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY CAST(tf.tf AS DOUBLE) *
               ((CAST(n.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                / (CAST(df.df AS DOUBLE) + 0.5)) DESC, tf.term) AS rn
      FROM tf JOIN df USING (term) CROSS JOIN n) t
    WHERE rn <= 3
    """,
    doc="Top-3 TF-IDF terms per document. Rational BM25-style idf "
        "(N - df + 0.5)/(df + 0.5) — no ln, so the weight is bit-exact "
        "across engines; ties break on term. DF broadcasts onto TF.",
    tags=("text", "tfidf"),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # corpus size: one tiny action, reused as a literal
    tf = _doc_terms(docs).groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    weight = F.col("tf").cast("double") * (
        (F.lit(float(n_docs)) - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        tf.join(F.broadcast(df_tbl), "term")
        .withColumn("tfidf", weight)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "tfidf")
    )


@register(
    "q_term_lift_pairs",
    oracle="""
    WITH pres AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), pres2 AS (SELECT doc_id, term FROM pres WHERE term <> ''),
    df AS (SELECT term, COUNT(*) AS df FROM pres2 GROUP BY term),
    vocab AS (
      SELECT term, df FROM df ORDER BY df DESC, term LIMIT 50
    ), keep AS (
      SELECT p.doc_id, p.term, v.df FROM pres2 p JOIN vocab v USING (term)
    ), pairs AS (
      SELECT a.term AS term_a, b.term AS term_b,
             MIN(a.df) AS df_a, MIN(b.df) AS df_b, COUNT(*) AS n_both
      FROM keep a JOIN keep b
        ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY a.term, b.term
    ), n AS (SELECT COUNT(*) AS n FROM documents)
    SELECT term_a, term_b, n_both,
           (CAST(n.n AS DOUBLE) * CAST(n_both AS DOUBLE))
             / (CAST(df_a AS DOUBLE) * CAST(df_b AS DOUBLE)) AS lift
    FROM pairs CROSS JOIN n
    WHERE n_both >= 5
    """,
    doc="Term co-occurrence association over documents: lift = "
        "N·P(a,b)/(P(a)·P(b)) (PMI's exp scale — rational, no ln) for "
        "term pairs in a bounded top-50-DF vocabulary, support >= 5. "
        "Vocabulary pruning caps the per-document pair expansion at "
        "C(M,2) no matter the corpus size.",
    tags=("text", "cooccurrence"),
)
def q_term_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    pres = _doc_terms(docs).distinct()
    df_tbl = pres.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    vocab = df_tbl.orderBy(F.col("df").desc(), F.col("term")).limit(50)
    keep = pres.join(F.broadcast(vocab), "term")
    a, b = keep.alias("a"), keep.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(
            F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b")
        )
        .agg(
            F.min("a.df").alias("df_a"),
            F.min("b.df").alias("df_b"),
            F.count(F.lit(1)).alias("n_both"),
        )
    )
    lift = (F.lit(float(n_docs)) * F.col("n_both").cast("double")) / (
        F.col("df_a").cast("double") * F.col("df_b").cast("double")
    )
    return (
        pairs.filter(F.col("n_both") >= 5)
        .select("term_a", "term_b", "n_both", lift.alias("lift"))
    )


@register(
    "q_boilerplate_scrub",
    oracle="""
    WITH aug AS (
      SELECT doc_id, source,
             trim(repeat(source || ' ', 8))
             || CASE WHEN doc_id % 4 = 0
                     THEN ' ' || trim(repeat(source || ' ', 8)) ELSE '' END
             || ' ' || text AS t
      FROM documents
    ), words AS (
      SELECT doc_id, source,
             list_filter(string_split(t, ' '), x -> x <> '') AS w
      FROM aug
    ), lines AS (
      SELECT doc_id, source, CAST(ln AS INT) AS ln,
             array_to_string(w[CAST(ln AS INT) * 8 + 1
                              : CAST(ln AS INT) * 8 + 8], ' ') AS line
      FROM words,
           LATERAL unnest(range(CAST(ceil(len(w) / 8.0) AS BIGINT)))
             AS t(ln)
    ), boiler AS (
      SELECT source, line
      FROM lines GROUP BY source, line
      HAVING COUNT(DISTINCT doc_id) >= 3
    ), flagged AS (
      SELECT l.doc_id, l.ln, l.line,
             (b.line IS NOT NULL) AS is_boiler
      FROM lines l LEFT JOIN boiler b
        ON l.source = b.source AND l.line = b.line
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lines_dropped,
           md5(COALESCE(string_agg(CASE WHEN NOT is_boiler THEN line END,
                                   ' ' ORDER BY ln), '')) AS scrub_sig
    FROM flagged GROUP BY doc_id
    """,
    doc="Cross-document duplicate-line removal — the RefinedWeb/CCNet "
        "boilerplate scrub (operators/textstats.py "
        "scrub_boilerplate_lines): lines (8-word tumbling windows; the "
        "fixture has no newlines) appearing in >= 3 distinct documents "
        "of the same source are deleted everywhere and the survivors "
        "rejoined in order. The query plants a deterministic per-source "
        "banner line (plus a second one on doc_id % 4 == 0) so every "
        "source has real boilerplate to catch; scrubbed text is "
        "reported as md5 so rows stay narrow. One explode + one "
        "(source, line) count with map-side combine + one keyed join "
        "back — linear, never pairwise.",
    tags=("text", "quality", "dedup"),
)
def q_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import scrub_boilerplate_lines

    docs = load_table(spark, sf_dir, "documents")
    banner = F.array_join(F.array_repeat(F.col("source"), 8), " ")
    aug = docs.select(
        "doc_id",
        "source",
        F.concat(
            banner,
            F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit(" "), banner))
            .otherwise(F.lit("")),
            F.lit(" "),
            F.col("text"),
        ).alias("text"),
    )
    out = scrub_boilerplate_lines(
        aug, doc_col="doc_id", text_col="text", group_cols=("source",),
        words_per_line=8, min_docs=3,
    )
    return out.select(
        "doc_id",
        "n_lines",
        "n_lines_dropped",
        F.md5("text_scrubbed").alias("scrub_sig"),
    )


@register(
    "q_span_corruption",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ), tok AS (
      SELECT doc_id, CAST(i AS INT) AS i,
             w[CAST(i AS INT) + 1] AS word,
             CAST(i AS INT) // 3 AS s
      FROM w, LATERAL unnest(range(len(w))) t(i)
    ), m AS (
      SELECT doc_id, i, word, s, (s % 4 = 3) AS masked,
             '<extra_id_' || CAST(s // 4 AS VARCHAR) || '>' AS sent
      FROM tok
    ), agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
               AS n_masked,
             md5(COALESCE(string_agg(
               CASE WHEN NOT masked THEN word
                    WHEN i % 3 = 0 THEN sent END, ' ' ORDER BY i), ''))
               AS input_sig,
             md5(COALESCE(string_agg(
               CASE WHEN masked AND i % 3 = 0 THEN sent || ' ' || word
                    WHEN masked THEN word END, ' ' ORDER BY i), ''))
               AS target_sig
      FROM m GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.n_words, CAST(0 AS BIGINT)) AS n_words,
           COALESCE(a.n_masked, CAST(0 AS BIGINT)) AS n_masked,
           COALESCE(a.input_sig, md5('')) AS input_sig,
           COALESCE(a.target_sig, md5('')) AS target_sig
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN agg a USING (doc_id)
    """,
    doc="T5-style span-corruption pair generation (operators/textstats.py "
        "span_corruption; Raffel et al. 2020): 3-word spans, every 4th "
        "span masked (stride-deterministic — the registry's RNG-free "
        "analog of T5's sampled spans), input gets one <extra_id_k> "
        "sentinel per masked span, target is the sentinel-prefixed "
        "masked text. Pure array expressions in one scan — no explode, "
        "no shuffle, no Python; the oracle replays token-by-token and "
        "compares md5 of both strings.",
    tags=("text", "mlprep", "packing"),
)
def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import span_corruption

    docs = load_table(spark, sf_dir, "documents")
    out = span_corruption(docs, span_words=3, mask_every=4)
    return out.select(
        "doc_id",
        "n_words",
        "n_masked",
        F.md5("input").alias("input_sig"),
        F.md5("target").alias("target_sig"),
    )


@register(
    "q_quality_ensemble",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             n_chars,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_tokens,
             CAST(len(list_distinct(list_filter(string_split(text, ' '),
                                                w -> w <> ''))) AS DOUBLE)
             / greatest(len(list_filter(string_split(text, ' '),
                                        w -> w <> '')), 1)
               AS distinct_ratio
      FROM documents
    ), n AS (SELECT COUNT(*) AS n FROM t),
    r AS (
      SELECT doc_id, n_chars, n_tokens, distinct_ratio,
             CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1
                  AS DOUBLE) / (SELECT n - 1 FROM n) AS pr_n_chars,
             CAST(ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) - 1
                  AS DOUBLE) / (SELECT n - 1 FROM n) AS pr_n_tokens,
             CAST(ROW_NUMBER() OVER (ORDER BY distinct_ratio, doc_id) - 1
                  AS DOUBLE) / (SELECT n - 1 FROM n) AS pr_distinct_ratio
      FROM t
    )
    SELECT doc_id, pr_n_chars, pr_n_tokens, pr_distinct_ratio,
           CAST((pr_n_chars + pr_n_tokens + pr_distinct_ratio) / 3.0
                AS DOUBLE) AS ensemble_score
    FROM r
    """,
    doc="Rank-average quality ensemble (operators/textstats.py "
        "quality_ensemble_rank): three incommensurable signals (chars, "
        "tokens, distinct-word ratio) reduced to unique percent-ranks "
        "and Borda-averaged into one curation ordering — no scale "
        "calibration needed. Every rank rides the distributed prefix "
        "sum (the oracle's ROW_NUMBER is the semantic spec, not the "
        "plan); ranks are integers so the ensemble is engine-exact.",
    tags=("text", "quality", "mlprep"),
)
def q_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import quality_ensemble_rank

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != F.lit(""))
    t = docs.select(
        "doc_id",
        "n_chars",
        F.size(toks).cast("bigint").alias("n_tokens"),
        (
            F.size(F.array_distinct(toks)).cast("double")
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("distinct_ratio"),
    )
    return quality_ensemble_rank(
        t, ["n_chars", "n_tokens", "distinct_ratio"]
    ).select(
        "doc_id",
        "pr_n_chars",
        "pr_n_tokens",
        "pr_distinct_ratio",
        "ensemble_score",
    )


@register(
    "q_zipf_coverage",
    oracle="""
    WITH w AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS w
      FROM documents
    ), c AS (
      SELECT w, COUNT(*) AS c FROM w GROUP BY w
    ), r AS (
      SELECT SUM(1) OVER (ORDER BY c DESC, w
                          ROWS UNBOUNDED PRECEDING) AS rank,
             SUM(c) OVER (ORDER BY c DESC, w
                          ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM c
    ), t AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM c)
    SELECT CAST(rank AS BIGINT) AS top_k,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           (SELECT total FROM t) AS total_tokens,
           CAST(cum_tokens AS DOUBLE) / (SELECT total FROM t) AS coverage
    FROM r WHERE rank IN (10, 100, 1000)
    """,
    doc="Zipf head-coverage diagnostic: the fraction of all token "
        "occurrences covered by the top-10/100/1000 most frequent words "
        "(ties broken by word) — the measurement behind every bounded-"
        "head design decision in this engine (the BPE trainer's "
        "max_words, the exact-Jaccard dense-vocabulary regime switch, "
        "heavy-hitter counter sizing). Frequency-ordered rank and "
        "cumulative coverage ride ONE shared multi-value distributed "
        "prefix sum over the vocabulary (the oracle's global window is "
        "the semantic spec, not the plan — a billion-word vocabulary "
        "never funnels through one task).",
    tags=("text", "profiling", "agg"),
)
def q_zipf_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scale import distributed_cumsum

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != F.lit(""))
        ).alias("w")
    )
    counts = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("neg_c", -F.col("c"))
        .withColumn("one", F.lit(1))
    )
    cum = distributed_cumsum(
        counts, ["neg_c", "w"], ["one", "c"], ["rank", "cum_tokens"]
    )
    tot = counts.agg(F.sum("c").cast("bigint").alias("total_tokens"))
    return (
        cum.filter(F.col("rank").isin(10, 100, 1000))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("rank").cast("bigint").alias("top_k"),
            F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
            "total_tokens",
            (
                F.col("cum_tokens").cast("double") / F.col("total_tokens")
            ).alias("coverage"),
        )
    )


# -- retrieval scoring (round 6) -------------------------------------------

#: fixed lexical query for the retrieval-scoring surface — terms chosen
#: from the fixture vocabulary (all present at every SF)
_BM25_QUERY = ("spark", "hash", "vector")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bm25_scores_docs(load_table(spark, sf_dir, "documents"))


def _bm25_scores_docs(docs: DataFrame) -> DataFrame:
    """Per-document rational-idf BM25 score for :data:`_BM25_QUERY`.

    The idf is the RATIONAL Robertson odds (N - df + .5)/(df + .5)
    without the ln wrap — the engine-portability convention this repo
    uses everywhere (see q_tfidf_cosine_pairs, q_dsir_importance):
    ln's last-ulp behavior is libm-specific, while +,-,*,/ are IEEE-
    exact on both engines given the same parenthesization. Monotone per
    term, so per-term score ORDER is classic-BM25's; the sum is the
    rational-idf family. Per-term doubles fold through DECIMAL(28,12)
    (order-independent); the reported score is rounded at 9 decimals,
    far above the decimal-midpoint noise floor.

    Scale shape: one (doc, term) count restricted by a 3-term IN filter
    BEFORE the shuffle (query terms only — the scan-side prune every
    search engine does), a 3-row df aggregate broadcast back, one
    doc-keyed sum. No vocabulary-wide state."""
    stats = docs.select(
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+"))).alias("tot"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    n_docs = int(stats["n"])
    if n_docs == 0:
        # empty-input tolerance (registry convention): empty scores, not
        # a ZeroDivisionError on avgdl
        return docs.sparkSession.createDataFrame(
            [], "doc_id bigint, score double"
        )
    avgdl = int(stats["tot"]) / n_docs  # IEEE double division
    terms = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("dl"),
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"),
    ).filter(F.col("term").isin(*_BM25_QUERY))
    tf = terms.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    odds = (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    tfpart = (F.col("tf") * F.lit(_BM25_K1 + 1)) / (
        F.col("tf")
        + F.lit(_BM25_K1)
        * (
            F.lit(1 - _BM25_B)
            + F.lit(_BM25_B) * (F.col("dl").cast("double") / F.lit(avgdl))
        )
    )
    per_term = tf.join(F.broadcast(df_t), "term").select(
        "doc_id", (odds * tfpart).alias("s")
    )
    return per_term.groupBy("doc_id").agg(
        F.round(exact_sum(F.col("s"), scale=12), 9).alias("score")
    )


_BM25_ORACLE_CORE = f"""
    N AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(len(list_filter(string_split(text, ' '),
                                          t -> t <> ''))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS avgdl
          FROM documents),
    t0 AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), t -> t <> ''))
               AS dl,
             unnest(list_filter(string_split(text, ' '), t -> t <> ''))
               AS term
      FROM documents),
    tq AS (SELECT * FROM t0 WHERE term IN ('spark', 'hash', 'vector')),
    tf AS (
      SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM tq GROUP BY doc_id, dl, term),
    dft AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
            FROM tf GROUP BY term),
    per AS (
      SELECT tf.doc_id,
             ((n.n - dft.df + 0.5) / (dft.df + 0.5))
             * ((tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE)
                                                 / n.avgdl)))) AS s
      FROM tf JOIN dft USING (term) CROSS JOIN N n),
    bm AS (
      SELECT doc_id,
             round({sql_exact_sum("s", scale=12)}, 9)
               AS score
      FROM per GROUP BY doc_id)
"""


@register(
    "q_bm25_topk",
    oracle=f"""
    WITH {_BM25_ORACLE_CORE}
    SELECT doc_id, score,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
             AS rank
    FROM bm ORDER BY score DESC, doc_id LIMIT 20
    """,
    doc="BM25 top-20 retrieval for the fixed query (spark, hash, "
        "vector) with rational Robertson idf (no ln — see _bm25_scores "
        "for the portability contract): k1=1.2, b=0.75, decimal-"
        "accumulated per-term sums, rank ties broken by doc_id. The "
        "query-term IN prune keeps the shuffle at O(matching postings), "
        "not O(corpus terms) — the retrieval-scoring step of a "
        "query-targeted data-selection pass.",
    tags=("text", "retrieval", "bm25"),
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    bm = _bm25_scores(spark, sf_dir)
    # top-k via global sort-limit (TakeOrderedAndProject — per-partition
    # heaps, no single-task window); the rank column is attached by a
    # window over the 20 SURVIVING rows only
    top = bm.orderBy(F.col("score").desc(), F.col("doc_id")).limit(20)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return top.select(
        "doc_id", "score", F.row_number().over(w).cast("bigint").alias("rank")
    )


@register(
    "q_rank_fusion",
    oracle=f"""
    WITH {_BM25_ORACLE_CORE},
    ra AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
      FROM bm),
    dens AS (
      SELECT doc_id,
             round({sql_exact_sum("CASE WHEN term IN ('spark', 'hash', 'vector') THEN 1.0 ELSE 0.0 END", scale=12)}
                   / CAST(MIN(dl) AS DOUBLE), 12) AS dens
      FROM t0 GROUP BY doc_id),
    rb AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY dens DESC, doc_id) AS r
      FROM dens WHERE dens > 0),
    fused AS (
      SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
             round(COALESCE(1.0 / (60.0 + ra.r), 0.0)
                   + COALESCE(1.0 / (60.0 + rb.r), 0.0), 12) AS rrf
      FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id)
    SELECT doc_id, rrf,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
             AS rank
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 20
    """,
    doc="Reciprocal-rank fusion (k=60) of two retrieval signals for "
        "the same fixed query: the BM25 ranking and a query-term "
        "DENSITY ranking (matched terms / doc length — the "
        "length-normalized lexical signal BM25's saturation "
        "deliberately dampens). RRF is pure rank arithmetic "
        "(1/(60+r)), so fusion is exact across engines regardless of "
        "the score scales — the standard hybrid-retrieval combiner "
        "(Cormack et al. 2009). Both rankings derive from the same "
        "single postings pass; ranks are integers, fusion is two "
        "divisions and one add.",
    tags=("text", "retrieval", "fusion"),
)
def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scale import distributed_cumsum

    docs = load_table(spark, sf_dir, "documents")
    # both FULL rankings ride the distributed prefix sum (rank = running
    # count in sort order — range shuffle + per-partition window), never
    # a no-partition global row_number: at corpus scale the match set is
    # data-sized, and only the fused top-20 is ever driver-bounded
    bm = _bm25_scores(spark, sf_dir)
    ra = distributed_cumsum(
        bm.select(
            "doc_id", (-F.col("score")).alias("neg"), F.lit(1).alias("one")
        ),
        ["neg", "doc_id"],
        "one",
        "r_a",
    ).select("doc_id", "r_a")
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("dl"),
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"),
    )
    dens = (
        toks.groupBy("doc_id")
        .agg(
            F.round(
                exact_sum(
                    F.when(F.col("term").isin(*_BM25_QUERY), F.lit(1.0))
                    .otherwise(F.lit(0.0)),
                    scale=12,
                )
                / F.min("dl").cast("double"),
                12,
            ).alias("dens")
        )
        .filter(F.col("dens") > 0)
    )
    rb = distributed_cumsum(
        dens.select(
            "doc_id", (-F.col("dens")).alias("neg"), F.lit(1).alias("one")
        ),
        ["neg", "doc_id"],
        "one",
        "r_b",
    ).select("doc_id", "r_b")
    fused = ra.join(rb, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(60.0) + F.col("r_a")), F.lit(0.0))
            + F.coalesce(
                F.lit(1.0) / (F.lit(60.0) + F.col("r_b")), F.lit(0.0)
            ),
            12,
        ).alias("rrf"),
    )
    top = fused.orderBy(F.col("rrf").desc(), F.col("doc_id")).limit(20)
    wf = Window.orderBy(F.col("rrf").desc(), F.col("doc_id"))
    return top.select(
        "doc_id", "rrf", F.row_number().over(wf).cast("bigint").alias("rank")
    )


@register(
    "q_lexical_diversity",
    oracle="""
    WITH tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS term
            FROM documents)
      GROUP BY doc_id, term)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS dl,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           1.0 - CAST(SUM(c * c) AS DOUBLE)
                 / CAST(SUM(c) * SUM(c) AS DOUBLE) AS gini
    FROM tf GROUP BY doc_id
    """,
    doc="Lexical diversity per document as the Gini-Simpson index "
        "1 - sum(tf^2)/dl^2 over the word distribution — the "
        "repetitiveness quality signal (template/boilerplate docs "
        "collapse toward 0) that needs NO logarithm: both moments are "
        "exact INTEGERS (sum of squared counts, squared length), so "
        "the score is one double division — bit-exact across engines "
        "with no rounding, no ordered fold, no decimal ladder. "
        "Complements the entropy-flavored signals (q_token_rarity, "
        "q_lm_quality_score) with the rational member of the family. "
        "One (doc, term) count, one doc-keyed sum: two shuffles, "
        "map-side combinable.",
    tags=("text", "quality", "diversity"),
)
def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tf.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("dl"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        (
            F.lit(1.0)
            - F.sum(F.col("c") * F.col("c")).cast("double")
            / (F.sum("c") * F.sum("c")).cast("double")
        ).alias("gini"),
    )


#: fixed multi-query batch for q_bm25_batch: (query_id, term)
_BM25_BATCH = (
    (1, "spark"), (1, "hash"), (1, "vector"),
    (2, "join"), (2, "merge"),
    (3, "customer"), (3, "query"), (3, "data"),
)


@register(
    "q_bm25_batch",
    oracle=f"""
    WITH q(qid, term) AS (
      VALUES (1, 'spark'), (1, 'hash'), (1, 'vector'),
             (2, 'join'), (2, 'merge'),
             (3, 'customer'), (3, 'query'), (3, 'data')
    ), N AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                    CAST(SUM(len(list_filter(string_split(text, ' '),
                                             t -> t <> ''))) AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE) AS avgdl
             FROM documents),
    t0 AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), t -> t <> ''))
               AS dl,
             unnest(list_filter(string_split(text, ' '), t -> t <> ''))
               AS term
      FROM documents),
    tq AS (SELECT * FROM t0
           WHERE term IN (SELECT DISTINCT term FROM q)),
    tf AS (
      SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM tq GROUP BY doc_id, dl, term),
    dft AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
            FROM tf GROUP BY term),
    per AS (
      SELECT q.qid, tf.doc_id,
             ((n.n - dft.df + 0.5) / (dft.df + 0.5))
             * ((tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE)
                                                 / n.avgdl)))) AS s
      FROM tf JOIN dft USING (term) JOIN q USING (term)
      CROSS JOIN N n),
    bm AS (
      SELECT qid, doc_id,
             round({sql_exact_sum("s", scale=12)}, 9)
               AS score
      FROM per GROUP BY qid, doc_id),
    ranked AS (
      SELECT qid, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rank
      FROM bm)
    SELECT CAST(qid AS INT) AS qid, doc_id, score,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """,
    doc="Batched BM25: top-5 documents for EVERY query of a 3-query "
        "batch in ONE postings pass — the retrieval twin of "
        "q_knn_batch's one-corpus-pass contract. The postings scan is "
        "pruned to the UNION of all query terms before the shuffle, "
        "document frequencies are shared across queries (computed "
        "once), the per-(query, doc) score reuses q_bm25_topk's "
        "rational-idf arithmetic, and the final top-5 is a window "
        "PARTITIONED BY query id (embarrassingly parallel across "
        "queries — the batch dimension is the parallelism, exactly how "
        "a 10k-query nightly retrieval sweep should run).",
    tags=("text", "retrieval", "bm25", "batch"),
)
def q_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    qdf = docs.sparkSession.createDataFrame(
        list(_BM25_BATCH), "qid int, term string"
    )
    all_terms = sorted({t for _, t in _BM25_BATCH})
    stats = docs.select(
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+"))).alias("tot"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    n_docs = int(stats["n"])
    avgdl = int(stats["tot"]) / int(stats["n"])
    terms = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("dl"),
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"),
    ).filter(F.col("term").isin(*all_terms))
    tf = terms.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    odds = (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    tfpart = (F.col("tf") * F.lit(_BM25_K1 + 1)) / (
        F.col("tf")
        + F.lit(_BM25_K1)
        * (
            F.lit(1 - _BM25_B)
            + F.lit(_BM25_B) * (F.col("dl").cast("double") / F.lit(avgdl))
        )
    )
    per = (
        tf.join(F.broadcast(df_t), "term")
        .join(F.broadcast(qdf), "term")
        .select("qid", "doc_id", (odds * tfpart).alias("s"))
    )
    bm = per.groupBy("qid", "doc_id").agg(
        F.round(exact_sum(F.col("s"), scale=12), 9).alias("score")
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        bm.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 5)
        .select("qid", "doc_id", "score", "rank")
    )
