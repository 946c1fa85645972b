"""Text analysis operators over the documents table.

Token counting, type-token quality scoring, stopword ratios, language-ID
heuristic, and document fingerprinting — all as JVM-side higher-order
array expressions (F.split / F.transform / F.filter / F.array_distinct),
zero Python UDFs, so they run inside whole-stage codegen and scale
linearly with executors. Fingerprint = md5 of the normalized text: the
standard first pass of a web-scale dedup pipeline (exact-dup removal
before the MinHash stage, see pipeline/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tiflash_spark.cache import bucketed, prepared, sf_tag, sidecar
from tiflash_spark.catalog import load_table

STOPWORDS = ("the", "a", "of", "and", "to")

def scan_underparallelized(df, parallelism: int) -> bool:
    """True when a file-backed scan would yield fewer tasks than cores
    (few small files locally; at scale file count parallelizes
    naturally). Uses the file listing — no RDD handle, no job. A
    non-file-backed frame (inputFiles() == []) is left alone."""
    files = df.inputFiles()
    return 0 < len(files) < parallelism


def tokens(text: Column) -> Column:
    """Whitespace tokenization of already-normalized text."""
    return F.split(F.trim(text), " +")


def token_count(text: Column) -> Column:
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(F.size(tokens(text)))


def unique_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def stopword_count(text: Column) -> Column:
    return F.size(F.filter(tokens(text), lambda t: t.isin(*STOPWORDS)))


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0, ~2]: type-token ratio (lexical
    diversity) + bounded length credit − stopword saturation. Mirrors the
    shape of C4/Gopher-style quality filters with engine-friendly math."""
    n = token_count(text)
    ttr = unique_token_count(text) / n
    stop_ratio = stopword_count(text) / n
    length_credit = F.least(n / F.lit(200.0), F.lit(1.0))
    return F.when(n > 0, ttr + length_credit - stop_ratio)


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 over lowercase,
    whitespace-collapsed text."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), " +", " "))


def lang_id_heuristic(text: Column) -> Column:
    """N-gram/stopword language heuristic: English function words vs none
    (the synthetic corpus shares one vocabulary, so the heuristic output is
    deterministic rather than accurate — the operator shape is the point)."""
    sr = stopword_count(text) / token_count(text)
    return (
        F.when(sr >= 0.08, F.lit("en_high"))
        .when(sr >= 0.03, F.lit("en_low"))
        .otherwise(F.lit("und"))
    )


def text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token stats, quality, fingerprint; the whole-corpus
    pass every training-data pipeline starts with.

    Staged selects: tokenize once into ``_w``, count once into
    ``_n/_u/_s``, then derive quality from the COUNT COLUMNS. The flat
    helper-composition form re-ran split() ~6× per row (quality_score's
    when() branch hides the shared subtrees from codegen subexpression
    elimination, and CollapseProject keeps the stages apart because the
    aliases are referenced more than once) — measured 1.96 s → 0.51 s per
    corpus pass at sf0.1, bit-identical output."""
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    w = F.col("_w")
    staged = d.select("doc_id", "lang", "n_chars", t, tokens(t).alias("_w"))
    n = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(F.size(w))
    stage2 = staged.select(
        "doc_id", "lang", "text", "n_chars",
        n.alias("_n"),
        F.size(F.array_distinct(w)).alias("_u"),
        F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))).alias("_s"),
    )
    # quality_score(t) inlined over the count columns: identical arithmetic
    q = F.when(
        F.col("_n") > 0,
        F.col("_u") / F.col("_n")
        + F.least(F.col("_n") / F.lit(200.0), F.lit(1.0))
        - F.col("_s") / F.col("_n"),
    )
    return stage2.select(
        "doc_id",
        "lang",
        F.col("_n").alias("n_tokens"),
        F.col("_u").alias("n_unique"),
        F.col("_s").alias("n_stop"),
        F.round(q, 6).alias("quality"),
        fingerprint(F.col("text")).alias("fp"),
        F.length(F.col("text")).alias("n_chars_actual"),
        (F.length(F.col("text")) == F.col("n_chars")).alias("len_consistent"),
    )


TEXT_ANALYSIS_SQL = """
WITH tok AS (
  SELECT doc_id, lang, n_chars, text,
         REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +') AS words
  FROM documents
)
SELECT
  doc_id,
  lang,
  CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE LEN(words) END AS n_tokens,
  LEN(LIST_DISTINCT(words)) AS n_unique,
  LEN(LIST_FILTER(words, t -> t IN ('the','a','of','and','to'))) AS n_stop,
  ROUND(
    CAST(LEN(LIST_DISTINCT(words)) AS DOUBLE) / LEN(words)
    + LEAST(LEN(words) / 200.0, 1.0)
    - CAST(LEN(LIST_FILTER(words, t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
      / LEN(words),
    6) AS quality,
  MD5(REGEXP_REPLACE(LOWER(TRIM(text)), ' +', ' ', 'g')) AS fp,
  LENGTH(text) AS n_chars_actual,
  LENGTH(text) = n_chars AS len_consistent
FROM tok
"""


def lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic rolled up against the labeled lang column."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", lang_id_heuristic(F.col("text")).alias("pred"))
        .groupBy("lang", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "pred")
    )


LANG_DISTRIBUTION_SQL = """
WITH scored AS (
  SELECT lang,
         CAST(LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +'),
                              t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
         / LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +')) AS sr
  FROM documents
)
SELECT lang,
       CASE WHEN sr >= 0.08 THEN 'en_high'
            WHEN sr >= 0.03 THEN 'en_low'
            ELSE 'und' END AS pred,
       COUNT(*) AS n
FROM scored
GROUP BY 1, 2
ORDER BY lang, pred
"""


QUERIES = {
    "text_analysis": text_analysis,
    "lang_distribution": lang_distribution,
}

ORACLE = {
    "text_analysis": TEXT_ANALYSIS_SQL,
    "lang_distribution": LANG_DISTRIBUTION_SQL,
}


def ws_token_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-rest whitespace-token table: (doc_id, source, tok, tf),
    bucketed by tok — ONE corpus tokenize+explode paid at build time and
    shared by every token-level consumer (vocab_topk, lm_perplexity). The
    same amortization the inverted index and IVF index get: at 100 TB the
    raw explode is the dominant cost, and each query should pay the
    (pre-aggregated, ~10× smaller) doc-term table instead. tok-bucketing
    makes the vocabulary groupBy and any term join exchange-free."""

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        return (
            d.select("doc_id", "source", F.explode(tokens(F.col("text"))).alias("tok"))
            .groupBy("doc_id", "source", "tok")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        )

    return bucketed(
        spark, sf_dir, "documents", f"ws_tokens_{sf_tag(sf_dir)}", build, ("tok",), 32
    )


def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: top 50 terms by corpus tf with doc
    frequency — read off the persisted doc-term table ((doc_id, tok) is
    unique there, so df = COUNT(*)). Plan: bucket-local groupBy(tok) →
    TakeOrderedAndProject; zero wide shuffles."""
    t = ws_token_table(spark, sf_dir)
    return (
        t.groupBy("tok")
        .agg(
            F.sum("tf").cast("long").alias("tf"),
            F.count(F.lit(1)).cast("long").alias("df"),
        )
        .orderBy(F.col("tf").desc(), F.col("tok"))
        .limit(50)
    )


VOCAB_TOPK_SQL = """
SELECT tok, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
FROM (
  SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +')) AS tok
  FROM documents
) t
GROUP BY tok
ORDER BY tf DESC, tok
LIMIT 50
"""


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document length histogram in 100-token buckets + per-bucket quality —
    the filter-threshold-picking query of a data pipeline."""
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    n = token_count(t)
    return (
        d.select(
            (F.floor(n / 100) * 100).cast("long").alias("len_bucket"),
            quality_score(t).alias("q"),
        )
        .groupBy("len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("q"), 6).alias("avg_quality"),
        )
        .orderBy("len_bucket")
    )


DOC_LENGTH_HISTOGRAM_SQL = """
WITH scored AS (
  SELECT LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +')) AS n,
         CAST(LEN(LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +'))) AS DOUBLE)
           / LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +'))
         + LEAST(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +')) / 200.0, 1.0)
         - CAST(LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +'),
                                t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
           / LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +')) AS q
  FROM documents
)
SELECT CAST(FLOOR(n / 100) * 100 AS BIGINT) AS len_bucket,
       COUNT(*) AS n_docs,
       ROUND(AVG(q), 6) AS avg_quality
FROM scored
GROUP BY 1
ORDER BY len_bucket
"""

QUERIES["vocab_topk"] = vocab_topk
QUERIES["doc_length_histogram"] = doc_length_histogram
ORACLE["vocab_topk"] = VOCAB_TOPK_SQL
ORACLE["doc_length_histogram"] = DOC_LENGTH_HISTOGRAM_SQL


# BPE-style pre-tokenizer: letter runs / digit runs / punctuation runs,
# each optionally space-prefixed — the GPT-2 pretokenizer shape minus
# lookahead (RE2 in the DuckDB oracle has no lookahead; pattern text is
# shared verbatim between engines so counts match by construction).
BPE_ISH_PATTERN = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"


def bpe_ish_token_count(col_name: str) -> Column:
    """Count of BPE-ish pre-tokens — the practical LLM-cost estimator
    (whitespace counts undercount punctuation-heavy text)."""
    return F.size(
        F.expr(
            f"regexp_extract_all(lower({col_name}), "
            f"' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+', 0)"
        )
    )


def token_stats_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish token counts per document + the corpus-level
    inflation ratio — the token-budget estimate an LLM-data pipeline runs
    before training."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_ws"),
        bpe_ish_token_count("text").alias("n_bpe"),
    )
    return (
        per_doc.groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_ws").cast("long").alias("total_ws"),
            F.sum("n_bpe").cast("long").alias("total_bpe"),
            F.round(F.sum("n_bpe") / F.sum("n_ws"), 6).alias("bpe_inflation"),
        )
    )


TOKEN_STATS_BPE_SQL = """
WITH per_doc AS (
  SELECT doc_id,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +')) END AS n_ws,
         LEN(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS n_bpe
  FROM documents
)
SELECT COUNT(*) AS n_docs,
       CAST(SUM(n_ws) AS BIGINT) AS total_ws,
       CAST(SUM(n_bpe) AS BIGINT) AS total_bpe,
       ROUND(CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws), 6) AS bpe_inflation
FROM per_doc
"""

QUERIES["token_stats_bpe"] = token_stats_bpe
ORACLE["token_stats_bpe"] = TOKEN_STATS_BPE_SQL


# --- Gopher/C4-style repetition & quality-filter signals --------------------
#
# The published web-corpus filters (Gopher's repetition rules, C4's doc
# rules) reduce to per-document signals computable as pure array
# expressions: top-word fraction, duplicate n-gram fraction, mean word
# length, then a conjunctive keep rule. All JVM-side codegen — no
# shuffle, no UDF; cost is O(tokens · distinct-tokens) per row, which is
# fine for bounded documents (this corpus ≤ ~120 tokens). For book-length
# docs swap the top-word signal for the explode + groupBy variant — the
# rule evaluation is unchanged.


def word_grams(toks: Column, n: int) -> Column:
    """Adjacent word n-grams as strings (positions kept, duplicates kept —
    repetition measurement needs the multiset, unlike dedup shingles).
    Built by zipping the array with its own shifted slices — one linear
    pass per order, no per-index element_at lambda (measured ~2× faster
    in whole-stage codegen)."""
    out = toks
    for k in range(1, n):
        # zip_with pads the shorter side with NULLs — slice the result
        # back to the true gram count (len - k) or phantom tail grams appear
        out = F.slice(
            F.zip_with(
                out,
                F.slice(toks, k + 1, 2_000_000_000),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
            F.lit(1),
            F.greatest(F.size(toks) - k, F.lit(0)),
        )
    return out


def top_word_frac(toks: Column) -> Column:
    """Fraction of tokens taken by the single most frequent word —
    Gopher drops docs where this exceeds ~0.2 (boilerplate/spam).

    Computed as the longest equal-run of the SORTED token array via one
    sequential fold: O(n log n) per row. (The obvious
    distinct×filter-count form is O(n·distinct) per row — measured 59 s
    vs 1.4 s over the sf0.1 corpus, and it would only get worse with
    document length.)"""
    sorted_t = F.array_sort(toks)
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc: Column, t: Column) -> Column:
        run = F.when(t == acc.prev, acc.run + 1).otherwise(F.lit(1))
        return F.struct(
            t.alias("prev"), run.alias("run"),
            F.greatest(acc.best, run).alias("best"),
        )

    best = F.aggregate(sorted_t, zero, step, lambda acc: acc.best)
    return best / F.size(toks)


def dup_gram_frac(toks: Column, n: int) -> Column:
    """1 − distinct/total adjacent n-grams: the fraction of repeated
    n-grams (Gopher's duplicate n-gram family).

    PERFORMANCE: this form references the gram-construction subtree three
    times, and codegen's subexpression elimination does not share
    subtrees inside conditional branches — so the grams are BUILT ~3× per
    row (measured 1.10 s vs 0.49 s per corpus pass at sf0.1). In a hot
    corpus pass, materialize the grams as a column first and use
    ``dup_frac_of`` on the column reference (quality_signals shows the
    staging); a lambda-bound rewrite here was measured bit-identical but
    ~4 s SLOWER to analyze per query build, and rejected."""
    grams = word_grams(toks, n)
    return dup_frac_of(grams)


def dup_frac_of(grams: Column) -> Column:
    """1 − distinct/total over an (ideally already-materialized) gram
    column: on a plain column reference the three mentions are cheap
    attribute reads, so the expensive gram build happens once per row."""
    return F.when(
        F.size(grams) > 0,
        1 - F.size(F.array_distinct(grams)) / F.size(grams),
    ).otherwise(F.lit(0.0))


def mean_word_len(toks: Column) -> Column:
    return F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    ) / F.size(toks)


# the heuristic quality rule's windows (Gopher-style): token count, mean
# word length, top-word fraction and duplicate-trigram fraction
QUALITY_RULE = {
    "min_tokens": 10, "max_tokens": 100_000,
    "min_word_len": 3, "max_word_len": 10,
    "max_top_word_frac": 0.2, "max_dup_trigram_frac": 0.2,
}


def quality_keep(n: Column, mwl: Column, twf: Column, dup3: Column) -> Column:
    """QUALITY_RULE over a document's token count, mean word length,
    top-word fraction and duplicate-trigram fraction. Prepared trees that
    embed it key on ``tuple(QUALITY_RULE.items())``."""
    r = QUALITY_RULE
    return (
        (n >= r["min_tokens"]) & (n <= r["max_tokens"])
        & (mwl >= r["min_word_len"]) & (mwl <= r["max_word_len"])
        & (twf <= r["max_top_word_frac"])
        & (dup3 <= r["max_dup_trigram_frac"])
    )


def quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition/quality signals + the conjunctive keep rule
    (thresholds adapted to this corpus's length scale; the rule SHAPE is
    Gopher's: length window ∧ mean-word-length window ∧ repetition caps).

    Two measured performance rules baked in: (1) tokenize ONCE into a
    materialized array column — five signals each re-splitting the text
    defeats codegen subexpression reuse (44 s → <1 s at sf0.1); (2) when
    the scan yields fewer partitions than cores (small files locally; at
    100 TB the file count parallelizes naturally), spread the CPU-bound
    expression work before computing."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    par = spark.sparkContext.defaultParallelism
    if scan_underparallelized(d, par):
        d = d.repartition(par)
    d = d.withColumn("w", tokens(F.col("text")))

    # stage the expensive per-doc arrays/folds into COLUMNS, then derive
    # the fractions and the keep rule from cheap attribute references:
    # codegen subexpression elimination does not share subtrees inside
    # conditional branches, so the flat form rebuilt each gram array ~3×
    # per row (the dup_gram_frac note; same staging as text_analysis).
    # The staged projection is CONSTANT → prepared() per JVM (guide §5).
    def _build_sig_cols():
        w = F.col("w")
        n = F.when(
            F.length(F.trim(F.col("text"))) == 0, F.lit(0)
        ).otherwise(F.size(w))
        return (
            n.alias("_n"),
            top_word_frac(w).alias("_twf"),
            word_grams(w, 2).alias("_g2"),
            word_grams(w, 3).alias("_g3"),
            mean_word_len(w).alias("_mwl"),
        )

    sig = d.select(
        "doc_id", "source", *prepared(("quality_signals", "sig_cols"), _build_sig_cols)
    ).select(
        "doc_id",
        "source",
        "_n",
        "_twf",
        dup_frac_of(F.col("_g2")).alias("_dup2"),
        dup_frac_of(F.col("_g3")).alias("_dup3"),
        "_mwl",
    )
    keep = quality_keep(F.col("_n"), F.col("_mwl"), F.col("_twf"), F.col("_dup3"))
    return sig.select(
        "doc_id",
        "source",
        F.col("_n").alias("n_tokens"),
        F.round("_twf", 6).alias("top_word_frac"),
        F.round("_dup2", 6).alias("dup_bigram_frac"),
        F.round("_dup3", 6).alias("dup_trigram_frac"),
        F.round("_mwl", 6).alias("mean_word_len"),
        keep.alias("keep"),
    )


QUALITY_SIGNALS_SQL = """
WITH tok AS (
  SELECT doc_id, source,
         REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +') AS w
  FROM documents
), topw AS (
  -- max single-token count per doc (the oracle mirrors SEMANTICS, not
  -- the engine's sorted-run implementation)
  SELECT doc_id, MAX(c) AS top_count
  FROM (SELECT doc_id, COUNT(*) AS c
        FROM (SELECT doc_id, UNNEST(w) AS t FROM tok) GROUP BY doc_id, t)
  GROUP BY doc_id
), grams AS (
  SELECT doc_id, source, w,
         LEN(w) AS n,
         LIST_TRANSFORM(RANGE(1, GREATEST(LEN(w) - 1, 0) + 1),
                        i -> w[i] || ' ' || w[i+1]) AS g2,
         LIST_TRANSFORM(RANGE(1, GREATEST(LEN(w) - 2, 0) + 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3
  FROM tok
), sig AS (
  SELECT g.doc_id, g.source, g.n,
         CAST(t.top_count AS DOUBLE) / g.n AS twf,
         CASE WHEN LEN(g2) > 0
              THEN 1 - CAST(LEN(LIST_DISTINCT(g2)) AS DOUBLE) / LEN(g2)
              ELSE 0.0 END AS dup2,
         CASE WHEN LEN(g3) > 0
              THEN 1 - CAST(LEN(LIST_DISTINCT(g3)) AS DOUBLE) / LEN(g3)
              ELSE 0.0 END AS dup3,
         CAST(LIST_SUM(LIST_TRANSFORM(w, t -> LENGTH(t))) AS DOUBLE) / g.n AS mwl
  FROM grams g JOIN topw t ON g.doc_id = t.doc_id
)
SELECT doc_id, source, n AS n_tokens,
       ROUND(twf, 6) AS top_word_frac,
       ROUND(dup2, 6) AS dup_bigram_frac,
       ROUND(dup3, 6) AS dup_trigram_frac,
       ROUND(mwl, 6) AS mean_word_len,
       (n >= 10 AND n <= 100000 AND mwl >= 3 AND mwl <= 10
        AND twf <= 0.2 AND dup3 <= 0.2) AS keep
FROM sig
ORDER BY doc_id
"""

QUERIES["quality_signals"] = quality_signals
ORACLE["quality_signals"] = QUALITY_SIGNALS_SQL


# --- unigram LM perplexity scoring (CCNet-style quality signal) -------------
#
# The classic corpus-quality scorer: train a unigram LM on the corpus
# itself, score each document by bits-per-token; outlier-high perplexity
# = noise/gibberish, outlier-low = boilerplate. Both passes read the
# PERSISTED doc-term table (ws_token_table — explode paid once at build):
#   1) vocabulary probabilities: bucket-local groupBy(tok), kept to the
#      top-V tokens with an out-of-vocabulary floor, so the model side is
#      BOUNDED regardless of corpus size and always broadcastable;
#   2) scoring: broadcast probs join (bucket-co-located on tok) → per-doc
#      tf-weighted mean — identical to the per-instance mean, at doc-term
#      cardinality instead of token-instance cardinality.

LM_TOP_V = 1000
LM_OOV_PROB = 1e-6


def _lm_vocab_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded top-V unigram LM (tok, p), persisted BESIDE the token
    table, as an index's corpus stats sit beside it: the model of a
    corpus-quality scorer is index metadata, built once per scale factor
    at index time — per query it is a ≤LM_TOP_V-row parquet read instead
    of a full doc-term aggregation pass (measured r11, 8 interleaved
    trials: lm_perplexity 6.15 → 5.51 s sum, winner 6/8; ccnet shares
    it). p = tf / Σtf with integer sums, computed by the same expression
    as the inline form and round-tripped losslessly (parquet doubles) —
    bit-identical scores. Stamped to the source corpus like every
    sidecar; inline fallback when there is no local warehouse."""
    from pyspark.sql import Window

    t = ws_token_table(spark, sf_dir)
    vocab = (
        t.groupBy("tok")
        .agg(F.sum("tf").alias("tf"))
        .orderBy(F.col("tf").desc(), F.col("tok"))
        .limit(LM_TOP_V)
    )
    # normalizer via a single-partition window over the (≤ top-V row)
    # vocab: TakeOrderedAndProject already leaves one partition, so this
    # adds no exchange — where a separate vocab.agg(SUM) subtree made
    # Spark re-scan and re-aggregate the whole token table a second (and
    # with the crossJoin a third) time. Integer SUM either way → the
    # per-token probability is bit-identical. (Re-probed r11 after the
    # r10 bench showed lm_perplexity −12%: interleaved A/B at sf0.1, the
    # window form beat the old agg+crossJoin 8/8, sum 7.39 → 6.31 s —
    # the bench delta was load noise, the window form stands.)
    total = F.sum("tf").over(Window.partitionBy())
    probs = vocab.select("tok", (F.col("tf") / total).alias("p"))
    got = sidecar(
        spark, sf_dir, "documents",
        lambda loc: probs.coalesce(1).write.mode("overwrite").parquet(loc),
        f"lm_vocab_{sf_tag(sf_dir)}",
    )
    return probs if got is None else got[0]


def _unigram_doc_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc tf-weighted mean negative log-likelihood under the
    bounded top-V unigram LM (shared by lm_perplexity and the CCNet
    bucketing): (doc_id, source, doc_nll)."""
    t = ws_token_table(spark, sf_dir)
    probs = _lm_vocab_probs(spark, sf_dir)
    return (
        t.join(F.broadcast(probs), "tok", "left")
        .select(
            "doc_id",
            "source",
            "tf",
            (F.col("tf") * -F.log(F.coalesce(F.col("p"), F.lit(LM_OOV_PROB)))).alias(
                "nll_sum"
            ),
        )
        .groupBy("doc_id", "source")
        .agg((F.sum("nll_sum") / F.sum("tf")).alias("doc_nll"))
    )


def lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram-LM stats: mean bits-per-token and perplexity.
    ln/exp only (log2 ulp behavior differs across engines more than ln's
    summed error, and ROUND(,4) absorbs what remains). The tf-weighted
    per-doc mean is written identically in the oracle so both engines sum
    the same terms."""
    scored = _unigram_doc_nll(spark, sf_dir)
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("doc_nll"), 4).alias("avg_nll"),
            F.round(F.exp(F.avg("doc_nll")), 2).alias("ppl"),
        )
        .orderBy("source")
    )


LM_PERPLEXITY_SQL = """
WITH dt AS (
  SELECT doc_id, source, tok, COUNT(*) AS tf
  FROM (
    SELECT doc_id, source,
           UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +')) AS tok
    FROM documents
  ) t
  GROUP BY doc_id, source, tok
),
vocab AS (
  SELECT tok, SUM(tf) AS tf
  FROM dt GROUP BY tok
  ORDER BY tf DESC, tok
  LIMIT 1000
),
probs AS (
  SELECT tok, CAST(tf AS DOUBLE) / (SELECT SUM(tf) FROM vocab) AS p
  FROM vocab
),
scored AS (
  SELECT d.doc_id, d.source,
         SUM(d.tf * -LN(COALESCE(p.p, 1e-6))) / SUM(d.tf) AS doc_nll
  FROM dt d LEFT JOIN probs p ON d.tok = p.tok
  GROUP BY d.doc_id, d.source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(doc_nll), 4) AS avg_nll,
       ROUND(EXP(AVG(doc_nll)), 2) AS ppl
FROM scored
GROUP BY source
ORDER BY source
"""

QUERIES["lm_perplexity"] = lm_perplexity
ORACLE["lm_perplexity"] = LM_PERPLEXITY_SQL


# --- CCNet-style perplexity bucketing ----------------------------------------
#
# CCNet (Wenzek et al., arXiv:1911.00359) splits each language's corpus
# into head/middle/tail by LM perplexity terciles — the standard quality
# stratification for web-scale pretraining data. Rank-based terciles
# (NTILE over per-language perplexity order, doc_id tiebreak, nll
# rounded before ranking so ties are exact) keep the cut deterministic
# and engine-portable where an interpolated percentile would drift by
# ulps. Scale: one doc-level window per language partition over the
# (1 row/doc) score table — the corpus explode is paid by the shared
# at-rest token table, never here.


def ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, bucket) report: document counts and mean NLL for the
    head/middle/tail perplexity terciles of each language."""
    from pyspark.sql import Window

    scored = _unigram_doc_nll(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    langd = scored.join(d, "doc_id").select(
        "doc_id", "lang", F.round("doc_nll", 6).alias("doc_nll")
    )
    w = Window.partitionBy("lang").orderBy("doc_nll", "doc_id")
    b = langd.withColumn("nt", F.ntile(3).over(w))
    return (
        b.groupBy("lang", "nt")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("doc_nll"), 4).alias("avg_nll"),
        )
        .select(
            "lang",
            F.when(F.col("nt") == 1, "head")
            .when(F.col("nt") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
            "n_docs",
            "avg_nll",
        )
        .orderBy("lang", F.when(F.col("bucket") == "head", 1)
                 .when(F.col("bucket") == "middle", 2).otherwise(3))
    )


CCNET_BUCKETS_SQL = """
WITH dt AS (
  SELECT doc_id, source, tok, COUNT(*) AS tf
  FROM (
    SELECT doc_id, source,
           UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +')) AS tok
    FROM documents
  ) t
  GROUP BY doc_id, source, tok
),
vocab AS (
  SELECT tok, SUM(tf) AS tf
  FROM dt GROUP BY tok
  ORDER BY tf DESC, tok
  LIMIT 1000
),
probs AS (
  SELECT tok, CAST(tf AS DOUBLE) / (SELECT SUM(tf) FROM vocab) AS p
  FROM vocab
),
scored AS (
  SELECT d.doc_id,
         ROUND(SUM(d.tf * -LN(COALESCE(p.p, 1e-6))) / SUM(d.tf), 6) AS doc_nll
  FROM dt d LEFT JOIN probs p ON d.tok = p.tok
  GROUP BY d.doc_id
),
langd AS (
  SELECT s.doc_id, doc.lang, s.doc_nll
  FROM scored s JOIN documents doc ON s.doc_id = doc.doc_id
),
b AS (
  SELECT lang, doc_nll,
         NTILE(3) OVER (PARTITION BY lang ORDER BY doc_nll, doc_id) AS nt
  FROM langd
)
SELECT lang,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(doc_nll), 4) AS avg_nll
FROM b
GROUP BY lang, nt
ORDER BY lang, nt
"""

QUERIES["ccnet_buckets"] = ccnet_buckets
ORACLE["ccnet_buckets"] = CCNET_BUCKETS_SQL


# --- linear quality-model scoring (fasttext-style classifier) ---------------
#
# The production counterpart of the heuristic keep rules above: corpus
# curation pipelines (CCNet, RefinedWeb, Gopher's quality filter) score
# every document with a cheap linear text classifier and threshold it.
# Spark-first rendering: the model is a LITERAL vocab → weight table, so
# scoring is a pure whole-stage-codegen projection — per-term tf via
# size(filter(tokens)) over the one materialized token array, mean-pooled
# logit, sigmoid — ZERO shuffles and zero joins at any corpus size. A
# learned model swaps in by replacing the literal list; the plan shape is
# unchanged (a broadcast join only becomes necessary past a few thousand
# terms).

QUALITY_MODEL_WEIGHTS: list[tuple[str, float]] = [
    # prose-mass words up-weight ...
    ("the", 0.8), ("and", 0.6), ("of", 0.5), ("to", 0.4), ("a", 0.4),
    ("in", 0.35), ("is", 0.3), ("that", 0.3), ("for", 0.25), ("with", 0.2),
    # ... spam/boilerplate markers down-weight
    ("click", -1.2), ("subscribe", -1.4), ("buy", -0.9), ("free", -0.8),
    ("win", -0.7), ("offer", -0.8), ("cheap", -0.9), ("sale", -0.6),
    ("casino", -1.6), ("lorem", -1.5),
]
QUALITY_MODEL_BIAS = -0.05


def quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document with the literal linear model: mean-pooled
    token weights + bias → sigmoid, keep = logit ≥ 0 (decided on the
    6-digit rounding both engines share, so the boundary is exact)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    par = spark.sparkContext.defaultParallelism
    if scan_underparallelized(d, par):
        d = d.repartition(par)
    d = d.withColumn("w", tokens(F.lower(F.col("text"))))

    # the model is a CONSTANT expression tree (one filter-lambda per
    # weight — dozens of py4j calls); prepared() once per JVM (guide §5)
    def _build_model_cols():
        w = F.col("w")
        dl = F.when(
            F.length(F.trim(F.col("text"))) == 0, F.lit(0)
        ).otherwise(F.size(w))
        acc = None
        for term, wt in QUALITY_MODEL_WEIGHTS:
            tf = F.size(F.filter(w, lambda x: x == F.lit(term)))
            contrib = F.lit(float(wt)) * tf
            acc = contrib if acc is None else acc + contrib
        logit = F.round(
            F.lit(float(QUALITY_MODEL_BIAS))
            + acc / F.greatest(dl, F.lit(1)).cast("double"),
            6,
        )
        score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
        return (
            dl.alias("n_tokens"),
            logit.alias("logit"),
            score.alias("score"),
            (logit >= 0).alias("keep"),
        )

    dl_c, logit_c, score_c, keep_c = prepared(
        ("quality_model_score", "model_cols", tuple(QUALITY_MODEL_WEIGHTS), QUALITY_MODEL_BIAS),
        _build_model_cols,
    )
    return d.select("doc_id", "source", dl_c, logit_c, score_c, keep_c)


def _qm_sql_terms() -> str:
    parts = [
        f"{wt} * LEN(LIST_FILTER(w, x -> x = '{t}'))"
        for t, wt in QUALITY_MODEL_WEIGHTS
    ]
    return " + ".join(parts)


QUALITY_MODEL_SCORE_SQL = f"""
WITH tok AS (
  SELECT doc_id, source, text,
         REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), ' +') AS w
  FROM documents
), scored AS (
  SELECT doc_id, source,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE LEN(w) END AS n_tokens,
         ROUND({QUALITY_MODEL_BIAS}
               + ({_qm_sql_terms()})
                 / CAST(GREATEST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                                      ELSE LEN(w) END, 1) AS DOUBLE),
               6) AS logit
  FROM tok
)
SELECT doc_id, source, n_tokens, logit,
       ROUND(1.0 / (1.0 + EXP(-logit)), 6) AS score,
       logit >= 0 AS keep
FROM scored
"""

QUERIES["quality_model_score"] = quality_model_score
ORACLE["quality_model_score"] = QUALITY_MODEL_SCORE_SQL


# --- RAG-style document chunking ----------------------------------------------


CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token-window chunking with overlap — the retrieval/
    embedding preprocessing step every RAG corpus build runs (window =
    CHUNK_TOKENS, stride = window − overlap; the final chunk always
    reaches the document's end, no token is dropped). Pure codegen: one
    tokenize, one explode — no shuffle until nothing (per-chunk rows are
    returned as-is); at 100 TB the explode is the same narrow corpus
    pass every curation stage pays, and chunk rows land partitioned by
    their parent document's partition."""
    chunk, stride = CHUNK_TOKENS, CHUNK_TOKENS - CHUNK_OVERLAP
    d = load_table(spark, sf_dir, "documents")
    toks = d.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", "source", tokens(F.col("text")).alias("w")
    )
    return (
        toks.select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {_N_CHUNKS_EXPR} - 1),"
                    f" i -> struct(CAST(i AS BIGINT) AS chunk_id,"
                    f" slice(w, i * {stride} + 1, {chunk}) AS cw))"
                )
            ).alias("c"),
        )
        .select(
            "doc_id",
            "source",
            F.col("c.chunk_id").alias("chunk_id"),
            F.size("c.cw").cast("long").alias("n_tok"),
            F.md5(F.concat_ws(" ", "c.cw")).alias("fp"),
        )
        # presentation order only within each partition: a GLOBAL orderBy
        # here would append a full-corpus sort (one Exchange) to an
        # otherwise embarrassingly-parallel chunker; the driver's digest
        # and the oracle compare are both order-insensitive
        .sortWithinPartitions("doc_id", "chunk_id")
    )


# the n_chunks expression inlined into the SQL transform (same formula as
# the Column form above; kept as one string so both stay in sync)
_N_CHUNKS_EXPR = (
    f"(CASE WHEN size(w) <= {CHUNK_TOKENS} THEN 1"
    f" ELSE CAST(CEIL((size(w) - {CHUNK_TOKENS}) /"
    f" CAST({CHUNK_TOKENS - CHUNK_OVERLAP} AS DOUBLE)) AS INT) + 1 END)"
)


DOC_CHUNKS_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +') AS w
  FROM documents
  WHERE LENGTH(TRIM(text)) > 0
),
sized AS (
  SELECT doc_id, source, w,
         CASE WHEN LEN(w) <= {CHUNK_TOKENS} THEN 1
              ELSE CAST(CEIL((LEN(w) - {CHUNK_TOKENS})
                             / CAST({CHUNK_TOKENS - CHUNK_OVERLAP} AS DOUBLE)) AS INT) + 1
         END AS n_chunks
  FROM toks
)
SELECT doc_id, source, CAST(t.i AS BIGINT) AS chunk_id,
       CAST(LEN(w[CAST(t.i * {CHUNK_TOKENS - CHUNK_OVERLAP} + 1 AS BIGINT):
                 CAST(t.i * {CHUNK_TOKENS - CHUNK_OVERLAP} + {CHUNK_TOKENS} AS BIGINT)])
            AS BIGINT) AS n_tok,
       MD5(ARRAY_TO_STRING(w[CAST(t.i * {CHUNK_TOKENS - CHUNK_OVERLAP} + 1 AS BIGINT):
                             CAST(t.i * {CHUNK_TOKENS - CHUNK_OVERLAP} + {CHUNK_TOKENS} AS BIGINT)],
                           ' ')) AS fp
FROM sized, UNNEST(RANGE(0, n_chunks)) AS t(i)
ORDER BY doc_id, chunk_id
"""

QUERIES["doc_chunks"] = doc_chunks
ORACLE["doc_chunks"] = DOC_CHUNKS_SQL
