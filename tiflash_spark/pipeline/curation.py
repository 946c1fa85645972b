"""Corpus-curation operators: decontamination, PII redaction, and
deterministic stratified sampling — the steps between dedup and training
in an LLM data pipeline.

All three are JVM-side expression plans (zero Python in the hot path) and
every one is deterministic, so each has a full DuckDB oracle.

100 TB design notes:
- decontamination: the benchmark/eval side is tiny by construction (a
  benchmark suite is megabytes), so the overlap check is a broadcast
  left-semi join against the exploded train n-grams — one narrow pass
  over the corpus, no wide shuffle of the 100 TB side.
- PII redaction: pure per-row regexp work inside whole-stage codegen;
  scales linearly, no shuffle at all.
- stratified sampling: threshold-on-hash keeps the filter NARROW (no
  per-stratum window sort, which would shuffle the full corpus); only the
  per-stratum counts (one small agg) cross the wire, then come back as a
  broadcast join of ~|strata| rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tiflash_spark.cache import bucketed, frame_stamp, literal_memo, memo, prepared, sf_tag
from tiflash_spark.catalog import load_table
from tiflash_spark.pipeline.text import tokens

# --- decontamination --------------------------------------------------------

NGRAM_N = 5


def word_ngrams(text: Column, n: int = NGRAM_N) -> Column:
    """Word n-grams as strings (empty array when the doc is shorter than
    n tokens). Gram strings, not hashes, so the oracle can reproduce them
    verbatim; at scale you'd map to xxhash64(gram) right after this to
    shrink the shuffle/broadcast payload."""
    return word_ngrams_of(tokens(text), n)


def word_ngrams_of(toks: Column, n: int = NGRAM_N) -> Column:
    """word_ngrams over an ALREADY-tokenized array column — for callers
    that stage the token array once per corpus pass (curation_pipeline);
    identical grams by construction since word_ngrams is exactly this
    over tokens(text)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


# above this many distinct eval grams (~8 bytes each hashed, so ~16 MB)
# the broadcast is replaced by a shuffle left-semi join — a benchmark
# suite never gets here, but an eval side that GROWS with the corpus
# (like the synthetic %97 split) must not OOM every executor at scale
BROADCAST_GRAM_LIMIT = 2_000_000


def contaminated_ids(
    train: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id", "source"),
    broadcast_limit: int = BROADCAST_GRAM_LIMIT,
    eval_grams_hint: int | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """Training docs sharing any word 5-gram with the eval corpus.

    Scale guards (both sides of the join):
    - grams travel as xxhash64 values, not strings — ~10× smaller payload
      for typical 5-grams, and the distinct/join shuffles shrink with it.
      (Collision risk is n²/2⁶⁴ — immaterial against real corpora.)
    - the eval side is broadcast ONLY while its distinct gram count stays
      under ``broadcast_limit``; beyond that the join degrades gracefully
      to a shuffle left-semi instead of OOMing every executor. Pass
      ``eval_grams_hint`` when the benchmark size is known a priori to
      skip the counting job.

    ``tokens_col`` names an already-tokenized array column present on
    BOTH frames (= tokens(text), e.g. curation_pipeline's staged ``w``):
    grams then derive from the staged array instead of re-tokenizing the
    text — identical grams, one less corpus tokenize per side.
    """

    def grams_of(df: DataFrame) -> Column:
        # constant deep HOF tree per (column, n) — prepared once per JVM
        # (the transform/slice/array_join chain costs ~0.1 s of py4j to
        # construct; guide §5 driver work)
        if tokens_col is not None:
            return prepared(
                ("word_ngrams_of", tokens_col, NGRAM_N),
                lambda: word_ngrams_of(F.col(tokens_col)),
            )
        return prepared(
            ("word_ngrams", text_col, NGRAM_N),
            lambda: word_ngrams(F.col(text_col)),
        )

    eval_grams = (
        eval_docs.select(F.explode(grams_of(eval_docs)).alias("gram"))
        .select(F.xxhash64("gram").alias("gram_h"))
        .distinct()
    )
    if eval_grams_hint is None:
        # the sizing count is a real Spark job; persist the (bounded —
        # eval corpora are benchmark-sized by definition) gram frame so
        # the job's work IS the join build side instead of being thrown
        # away and re-exploded inside the main query (measured at sf0.1:
        # count 0.45-0.63 s + rebuild 0.33-0.48 s → count 0.54-0.96 s
        # cold + 0.10-0.17 s reuse; CacheManager keys by analyzed plan,
        # so repeated calls share one entry per sf_dir, as elsewhere).
        # RETENTION, broadcast path: the entry is deliberately NOT
        # unpersisted — the returned query still references it lazily, so
        # dropping it here would recompute the explode inside the join
        # build; one ≤broadcast_limit-row entry per distinct eval frame is
        # retained for the session (bounded by the guard above), and
        # Spark's LRU evicts it under memory pressure. Only the over-limit
        # path unpersists, where retention would also poison the planner's
        # size stats (see below).
        eval_grams = eval_grams.persist()
    if eval_grams_hint is not None:
        n_eval = eval_grams_hint
    else:
        # the sizing count is a planner decision (broadcast vs shuffle),
        # not a query result: repeated builds over unchanged files skip
        # the count job
        n_eval = memo(
            ("n_eval", eval_grams._jdf.queryExecution().analyzed().semanticHash()),
            frame_stamp(eval_grams),
            eval_grams.count,
        )
    if n_eval <= broadcast_limit:
        eval_side = F.broadcast(eval_grams)
    else:
        # over the guard: drop the cache before joining — a cached frame
        # carries accurate (tiny-at-test) size statistics that would let
        # the planner re-broadcast what the guard just ruled out; the
        # shuffle path re-explodes instead, which at that scale is noise
        # against the big-side join
        if eval_grams_hint is None:
            eval_grams = eval_grams.unpersist()
        eval_side = eval_grams
    train_grams = train.select(
        *id_cols, F.explode(grams_of(train)).alias("gram")
    ).select(*id_cols, F.xxhash64("gram").alias("gram_h"))
    return (
        train_grams.join(eval_side, "gram_h", "left_semi")
        .select(*id_cols)
        .distinct()
    )


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    5-gram with the held-out eval set (doc_id % 97 == 0 stands in for the
    benchmark suite). Reports per-source contamination, the number every
    training run has to publish.

    Reference analogue: the semi-join shape is the engine's Semi join
    (dbms/src/Parsers/ASTTablesInSelectQuery.h:94-121); the operator
    itself is pipeline surface beyond the reference."""
    d = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 97 == 0
    train = d.filter(~is_eval)
    contaminated = contaminated_ids(train, d.filter(is_eval))
    per_source = (
        train.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_train"))
        .join(
            contaminated.groupBy("source").agg(
                F.count(F.lit(1)).cast("long").alias("n_contaminated")
            ),
            "source",
            "left",
        )
        .select(
            "source",
            "n_train",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        )
    )
    return per_source.withColumn(
        "contamination_rate",
        F.round(F.col("n_contaminated") / F.col("n_train"), 4),
    ).orderBy("source")


DECONTAMINATE_SQL = """
WITH toks AS (
  SELECT doc_id, source, doc_id % 97 = 0 AS is_eval,
         REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +') AS tk
  FROM documents
),
grams AS (
  SELECT doc_id, source, is_eval, g.gram
  FROM toks,
       LATERAL (
         SELECT UNNEST(CASE WHEN LEN(tk) >= 5 THEN LIST_TRANSFORM(
             GENERATE_SERIES(1, LEN(tk) - 4),
             i -> ARRAY_TO_STRING(tk[i:i+4], ' '))
           ELSE [] END) AS gram
       ) g
),
eval_grams AS (SELECT DISTINCT gram FROM grams WHERE is_eval),
contaminated AS (
  SELECT DISTINCT doc_id, source FROM grams
  WHERE NOT is_eval AND gram IN (SELECT gram FROM eval_grams)
)
SELECT t.source,
       CAST(COUNT(*) AS BIGINT) AS n_train,
       CAST(COALESCE(MAX(c.n_c), 0) AS BIGINT) AS n_contaminated,
       ROUND(COALESCE(MAX(c.n_c), 0) * 1.0 / COUNT(*), 4) AS contamination_rate
FROM toks t
LEFT JOIN (SELECT source, COUNT(*) AS n_c FROM contaminated GROUP BY source) c
  ON t.source = c.source
WHERE NOT t.is_eval
GROUP BY t.source
ORDER BY t.source
"""


# --- PII redaction -----------------------------------------------------------

EMAIL_RX = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
PHONE_RX = "555-[0-9][0-9][0-9][0-9]"


def redact_pii(text: Column) -> Column:
    """Mask emails and 555-prefixed phone fragments. Both patterns are in
    the RE2-compatible subset so Java (Spark) and RE2 (DuckDB) agree."""
    return F.regexp_replace(
        F.regexp_replace(text, EMAIL_RX, "<EMAIL>"), PHONE_RX, "<PHONE>"
    )


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus. The synthetic docs carry no natural PII,
    so a deterministic injector plants an email on every even doc_id and a
    phone fragment on every doc_id % 3 == 0 first — then the scrubber is
    measured: per-source counts of redacted items plus the byte delta,
    exactly what a compliance report wants."""
    d = load_table(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit(" contact u"), F.col("doc_id"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" call 555-"), F.lpad(F.col("doc_id") % 10000, 4, "0")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    # F.regexp_extract_all with lit patterns — routing the regex through an
    # F.expr SQL string would strip the \\. escape at parse time
    scanned = injected.select(
        "source",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_RX), F.lit(0))).alias(
            "n_email"
        ),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PHONE_RX), F.lit(0))).alias(
            "n_phone"
        ),
        (F.length("text") - F.length(redact_pii(F.col("text")))).alias("bytes_saved"),
    )
    return (
        scanned.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_email").cast("long").alias("emails_redacted"),
            F.sum("n_phone").cast("long").alias("phones_redacted"),
            F.sum("bytes_saved").cast("long").alias("bytes_saved"),
        )
        .orderBy("source")
    )


PII_REDACTION_SQL = """
WITH injected AS (
  SELECT source,
         text
         || CASE WHEN doc_id % 2 = 0
                 THEN ' contact u' || doc_id || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 3 = 0
                 THEN ' call 555-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS text
  FROM documents
),
scanned AS (
  SELECT source,
         LEN(REGEXP_EXTRACT_ALL(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+')) AS n_email,
         LEN(REGEXP_EXTRACT_ALL(text, '555-[0-9][0-9][0-9][0-9]')) AS n_phone,
         LENGTH(text) - LENGTH(
           REGEXP_REPLACE(
             REGEXP_REPLACE(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+',
                            '<EMAIL>', 'g'),
             '555-[0-9][0-9][0-9][0-9]', '<PHONE>', 'g')) AS bytes_saved
  FROM injected
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_email) AS BIGINT) AS emails_redacted,
       CAST(SUM(n_phone) AS BIGINT) AS phones_redacted,
       CAST(SUM(bytes_saved) AS BIGINT) AS bytes_saved
FROM scanned
GROUP BY source
ORDER BY source
"""


# --- stratified sampling -----------------------------------------------------


def _portable_hash(key: Column) -> Column:
    """Deterministic 31-bit hash from integer keys using only arithmetic
    both engines evaluate identically (no xxhash64 in DuckDB). Knuth-style
    LCG step; inputs are bounded so the multiply stays inside int64."""
    return (key * 1103515245 + 12345) % 2147483648


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-allocation stratified sample over the lang strata: every
    stratum is downsampled toward the size of the SMALLEST stratum by
    thresholding a deterministic per-doc hash — the narrow-plan
    alternative to per-stratum row_number windows (which would sort the
    whole corpus per stratum). Sample membership never shuffles the
    corpus; only the |strata|-row count table moves (broadcast back).

    Threshold sampling is approximate-count by nature (binomial around
    the target) but exactly reproducible — the oracle reproduces the
    same arithmetic, and re-runs select identical rows."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_orig"))
    target = counts.agg(F.min("n_orig").alias("target"))
    quota = counts.crossJoin(F.broadcast(target)).select(
        "lang",
        "n_orig",
        # FLOOR on both engines: DuckDB CAST(double AS BIGINT) rounds,
        # Spark truncates — floor first so they agree
        F.floor(F.col("target") * F.lit(1_000_000) / F.col("n_orig"))
        .cast("long")
        .alias("keep_millionths"),
    )
    kept = (
        d.join(F.broadcast(quota), "lang")
        .filter(_portable_hash(F.col("doc_id")) % 1_000_000 < F.col("keep_millionths"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sampled"))
    )
    return (
        quota.join(kept, "lang", "left")
        .select(
            "lang",
            "n_orig",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.round(F.col("keep_millionths") / 1_000_000.0, 4).alias("keep_frac"),
        )
        .orderBy("lang")
    )


SAMPLE_STRATIFIED_SQL = """
WITH counts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_orig FROM documents GROUP BY lang
),
quota AS (
  SELECT lang, n_orig,
         CAST(FLOOR((SELECT MIN(n_orig) FROM counts) * 1000000.0 / n_orig)
              AS BIGINT) AS keep_millionths
  FROM counts
),
kept AS (
  SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_sampled
  FROM documents d JOIN quota q ON d.lang = q.lang
  WHERE (d.doc_id * 1103515245 + 12345) % 2147483648 % 1000000 < q.keep_millionths
  GROUP BY d.lang
)
SELECT q.lang, q.n_orig,
       CAST(COALESCE(k.n_sampled, 0) AS BIGINT) AS n_sampled,
       ROUND(q.keep_millionths / 1000000.0, 4) AS keep_frac
FROM quota q LEFT JOIN kept k ON q.lang = k.lang
ORDER BY q.lang
"""


QUERIES = {
    "decontaminate": decontaminate,
    "pii_redaction": pii_redaction,
    "sample_stratified": sample_stratified,
}

ORACLE = {
    "decontaminate": DECONTAMINATE_SQL,
    "pii_redaction": PII_REDACTION_SQL,
    "sample_stratified": SAMPLE_STRATIFIED_SQL,
}


# --- temperature-weighted mixture sampling -----------------------------------


MIX_TEMPERATURE = 0.7  # classic multilingual-mixing temperature
MIX_BUDGET_FRAC = 0.5  # sample half the corpus, redistributed by weight


def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing: source s gets sampling weight
    ∝ n_s^(1/T) (T<1 flattens the source distribution — the standard
    multilingual/multi-source rebalancing), then a deterministic
    hash-threshold draw fills a total token budget. Two tiny aggregates
    (per-source counts, one global sum) move across the cluster; the
    corpus itself is filtered in place with zero shuffles — the same
    narrow plan as sample_stratified.

    keep_frac caps at 1.0: sources whose quota exceeds their size are
    taken whole (upsampling-by-replication is a writer-side concern)."""
    d = load_table(spark, sf_dir, "documents")
    # |sources|-row frame, persisted: weighted/total/quota and the final
    # report all derive from it, and without the cache each derivation
    # re-scanned the corpus for its own COUNT (5 scans; now 2 — this agg
    # and the kept filter). Same CacheManager plan-keyed reuse as
    # curation_pipeline.
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_orig")
    ).persist()
    weighted = counts.select(
        "source", "n_orig",
        F.pow(F.col("n_orig").cast("double"), F.lit(1.0 / MIX_TEMPERATURE))
        .alias("w_raw"),
    )
    total = weighted.agg(
        F.sum("w_raw").alias("w_sum"),
        F.sum("n_orig").cast("long").alias("n_total"),
    )
    quota = weighted.crossJoin(F.broadcast(total)).select(
        "source", "n_orig",
        F.round(F.col("w_raw") / F.col("w_sum"), 9).alias("weight"),
        F.least(
            F.lit(1_000_000),
            F.floor(
                F.col("n_total") * F.lit(MIX_BUDGET_FRAC)
                * (F.col("w_raw") / F.col("w_sum"))
                * F.lit(1_000_000) / F.col("n_orig")
            ).cast("long"),
        ).alias("keep_millionths"),
    )
    # ONE corpus aggregate, zero joins (r11): the per-source weights and
    # keep thresholds are collected once per process via the SAME quota
    # expressions (bit-identical values; literal_memo keys on
    # documents.parquet (mtime, size)) and folded back as map literals.
    # n_orig and the conditional n_sampled then come out of a single
    # groupBy over the live scan — the quota broadcast build, the
    # crossJoin(total) build and the left join disappear per run; every
    # source is present because the aggregate sees every row.
    import os as _os3

    from tiflash_spark.pipeline.similarity import _fold_json_literal

    def _fetch_quota_literals():
        rows = quota.collect()
        return (
            {r.source: float(r.weight) for r in rows},
            {r.source: int(r.keep_millionths) for r in rows},
        )

    w_map, km_map = literal_memo(
        _os3.path.join(sf_dir, "documents.parquet"),
        "sample_temp_quota",
        _fetch_quota_literals,
    )
    w_c = F.element_at(
        _fold_json_literal(w_map, "map<string,double>"), F.col("source")
    )
    km_c = F.element_at(
        _fold_json_literal(km_map, "map<string,bigint>"), F.col("source")
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orig"),
            F.count(
                F.when(
                    _portable_hash(F.col("doc_id")) % 1_000_000 < km_c, 1
                )
            ).cast("long").alias("n_sampled"),
        )
        .select(
            "source", "n_orig",
            F.round(w_c, 6).alias("weight"),
            F.col("n_sampled"),
            F.round(km_c / 1_000_000.0, 4).alias("keep_frac"),
        )
        .orderBy("source")
    )


SAMPLE_TEMPERATURE_SQL = """
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_orig FROM documents GROUP BY source
),
weighted AS (
  SELECT source, n_orig, POWER(CAST(n_orig AS DOUBLE), 1.0 / 0.7) AS w_raw
  FROM counts
),
total AS (
  SELECT SUM(w_raw) AS w_sum, CAST(SUM(n_orig) AS BIGINT) AS n_total
  FROM weighted
),
quota AS (
  SELECT w.source, w.n_orig,
         ROUND(w.w_raw / t.w_sum, 9) AS weight,
         LEAST(1000000,
               CAST(FLOOR(t.n_total * 0.5 * (w.w_raw / t.w_sum)
                          * 1000000 / w.n_orig) AS BIGINT)) AS keep_millionths
  FROM weighted w CROSS JOIN total t
),
kept AS (
  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_sampled
  FROM documents d JOIN quota q ON d.source = q.source
  WHERE (d.doc_id * 1103515245 + 12345) % 2147483648 % 1000000
        < q.keep_millionths
  GROUP BY d.source
)
SELECT q.source, q.n_orig,
       ROUND(q.weight, 6) AS weight,
       CAST(COALESCE(k.n_sampled, 0) AS BIGINT) AS n_sampled,
       ROUND(q.keep_millionths / 1000000.0, 4) AS keep_frac
FROM quota q LEFT JOIN kept k ON q.source = k.source
ORDER BY q.source
"""


# --- sequence packing (concat-and-chunk) -------------------------------------


PACK_CAPACITY = 2048  # tokens per training sequence


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: within each source shard the
    token stream (docs concatenated in doc_id order) is cut into
    fixed-capacity training sequences. Each document is assigned the
    chunk where it STARTS; docs whose span crosses a chunk boundary are
    counted as straddlers (the loss-masking / doc-breaking cases).

    Scale: the cumulative sum windows over (source) — each shard packs
    independently, so parallelism = number of shards and no global sort
    ever happens (a single global pack order would serialize the world;
    real pipelines pack per shard exactly like this)."""
    from pyspark.sql import Window

    from tiflash_spark.pipeline.text import token_count

    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tok")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    placed = per_doc.select(
        "source",
        "n_tok",
        (F.sum("n_tok").over(w) - F.col("n_tok")).alias("start_off"),
    ).select(
        "source",
        "n_tok",
        F.floor(F.col("start_off") / PACK_CAPACITY).cast("long").alias("chunk_id"),
        (
            F.floor((F.col("start_off") + F.col("n_tok") - 1) / PACK_CAPACITY)
            > F.floor(F.col("start_off") / PACK_CAPACITY)
        ).alias("straddles"),
    )
    return (
        placed.groupBy("source", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens_started"),
            F.sum(F.col("straddles").cast("int")).cast("long").alias("n_straddlers"),
        )
        .orderBy("source", "chunk_id")
    )


PACK_SEQUENCES_SQL = """
WITH per_doc AS (
  SELECT doc_id, source,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +')) END AS n_tok
  FROM documents
),
placed AS (
  SELECT source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tok AS start_off
  FROM per_doc
)
SELECT source,
       CAST(FLOOR(start_off / 2048) AS BIGINT) AS chunk_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens_started,
       CAST(SUM(CASE WHEN FLOOR((start_off + n_tok - 1) / 2048)
                          > FLOOR(start_off / 2048)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
FROM placed
GROUP BY source, FLOOR(start_off / 2048)
ORDER BY source, chunk_id
"""


QUERIES["sample_temperature"] = sample_temperature
QUERIES["pack_sequences"] = pack_sequences
ORACLE["sample_temperature"] = SAMPLE_TEMPERATURE_SQL
ORACLE["pack_sequences"] = PACK_SEQUENCES_SQL


# --- deterministic training-order shuffle + shard assignment -----------------
#
# A training run needs the corpus in a SHUFFLED but REPRODUCIBLE order,
# cut into shards a data loader can stream independently. Doing this with
# a global orderBy(rand()) is both nondeterministic and a full sort of
# the world; the standard trick is a seeded hash: order key
# h = hash(seed, doc_id) gives every worker the same permutation with no
# coordination, and shard = high_bits(h) % N balances shards without a
# count pass. Re-shuffling for epoch k = changing the seed.

N_TRAIN_SHARDS = 8
SHUFFLE_SEED = 20240817


def _order_hash(key: Column, seed: int = SHUFFLE_SEED) -> Column:
    """Seeded deterministic permutation key (portable LCG, both engines)."""
    return _portable_hash(key + F.lit(seed))


def assign_training_shards(
    df: DataFrame,
    doc_col: str = "doc_id",
    n_shards: int = N_TRAIN_SHARDS,
    seed: int = SHUFFLE_SEED,
) -> DataFrame:
    """Library form of the seeded training-order shuffle: adds
    (shard, pos) to ``df`` — shard from the hash HIGH bits (the LCG's
    low bits cycle over consecutive ids; see shard_training_order),
    position = row_number within shard ordered by (hash, id). Epoch k's
    reshuffle is the same call with a different seed; every worker
    derives the identical permutation with no coordination.

    Plan: one exchange on shard + per-shard sort — no global sort at any
    n_shards; size n_shards to loader-sized shards (O(thousands) at
    100 TB), parallelism scales with it."""
    from pyspark.sql import Window

    h = _order_hash(F.col(doc_col), seed)
    out = df.withColumn("_h", h).withColumn(
        "shard", ((F.col("_h") / 65536).cast("long") % n_shards).cast("long")
    )
    w = Window.partitionBy("shard").orderBy("_h", doc_col)
    return out.withColumn("pos", F.row_number().over(w)).drop("_h")


def shard_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document a (shard, position) in a seeded pseudo-random
    training order and report per shard: doc/token counts, the first doc,
    and an order digest SUM(pos * doc_id) that pins the exact permutation
    (any swap of two docs changes the digest).

    Shard id uses the HIGH bits of the hash (h // 65536): the LCG's low
    bits cycle with a short period over consecutive doc_ids, which would
    degenerate shard = h % N into round-robin. Within-shard order is
    (h, doc_id) — total, since the tiebreak is unique.

    Scale: one hash shuffle on shard + a per-shard sort. Parallelism =
    N_TRAIN_SHARDS, so at cluster scale N is set to O(thousands) (shards
    are loader-sized, ~a few GB each at 100 TB); the plan shape is
    identical. No global sort, no driver round-trip."""
    from tiflash_spark.pipeline.text import token_count

    d = load_table(spark, sf_dir, "documents")
    ordered = assign_training_shards(
        d.select("doc_id", token_count(F.col("text")).cast("long").alias("n_tok"))
    )
    return (
        ordered.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.min(F.when(F.col("pos") == 1, F.col("doc_id")))
            .cast("long")
            .alias("first_doc"),
            F.sum(F.col("pos") * F.col("doc_id")).cast("long").alias("order_digest"),
        )
        .orderBy("shard")
    )


SHARD_TRAINING_ORDER_SQL = """
WITH docs AS (
  SELECT doc_id,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +')) END AS n_tok,
         ((doc_id + 20240817) * 1103515245 + 12345) % 2147483648 AS h
  FROM documents
),
ordered AS (
  SELECT (h // 65536) % 8 AS shard, doc_id, n_tok,
         ROW_NUMBER() OVER (PARTITION BY (h // 65536) % 8
                            ORDER BY h, doc_id) AS pos
  FROM docs
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(MIN(CASE WHEN pos = 1 THEN doc_id END) AS BIGINT) AS first_doc,
       CAST(SUM(pos * doc_id) AS BIGINT) AS order_digest
FROM ordered
GROUP BY shard
ORDER BY shard
"""


# --- exact token-budget mixing (deterministic greedy quota fill) -------------
#
# sample_temperature above is the PROBABILISTIC mixer: a hash-threshold
# draw whose doc-count quota is hit only in expectation. Dataset assembly
# for a training run usually wants the EXACT version: per-source TOKEN
# quotas (temperature-weighted), filled greedily in a seeded
# pseudo-random priority order so the result is reproducible and the
# budget is met to within one document. This is the two-tier pattern the
# dedup family uses: sample_temperature = cheap zero-shuffle screen,
# mix_token_budget = exact assembler.

MIX_BUCKETS = 64  # sub-source cumsum parallelism (see scale note)


def mix_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill temperature-weighted per-source TOKEN quotas exactly: source s
    gets quota_s = B * tok_s^(1/T) / Σ tok^(1/T) tokens of the global
    budget B (half the corpus), and docs are admitted greedily in seeded
    hash order until the quota boundary — a doc is kept iff it STARTS
    before the boundary, so the overshoot is < 1 doc.

    Scale: the naive form is a running sum over ONE window per source —
    a single reducer per source, the classic skew trap. Instead the
    cumsum is two-level, the same decomposition MPP engines use for
    global prefix sums: docs land in MIX_BUCKETS sub-buckets of the
    priority order (bucket = high bits of the hash, so (bucket, h) IS
    the priority order), per-(source,bucket) token subtotals (tiny: a
    map-side-combined agg) become broadcast bucket offsets, and the
    window only runs within (source, bucket) — parallelism is
    MIX_BUCKETS per source instead of 1, and nothing global is sorted.
    The oracle computes the same thing with one flat window."""
    from pyspark.sql import Window

    from tiflash_spark.pipeline.text import token_count

    d = load_table(spark, sf_dir, "documents")
    # the per-doc proxy rows (≈40 B/row: id, source, token count, hash,
    # bucket — no text) are cached so the corpus is TOKENIZED once; the
    # subtotal pass and the placement pass both read the narrow cached
    # frame (guide-§8 "decide with small rows": the heavy text column
    # never leaves the first scan). ~150× smaller than the corpus, so
    # the cache spills long before it pressures executor memory.
    docs = d.select(
        "doc_id",
        "source",
        token_count(F.col("text")).cast("long").alias("n_tok"),
        _order_hash(F.col("doc_id")).alias("h"),
    ).withColumn(
        "bucket", ((F.col("h") / 65536).cast("long") % MIX_BUCKETS).cast("long")
    ).persist()
    # the per-(source, bucket) subtotal table is |sources|·MIX_BUCKETS
    # rows; persist it so the offsets window, the per-source totals and
    # the global budget all read it back instead of each re-tokenizing
    # the corpus for their own copy of the aggregate (the un-cached plan
    # paid FOUR corpus scans; now it is two — this agg and the placed
    # leg). CacheManager keys by analyzed plan, so repeated calls share
    # one entry per sf_dir, as in curation_pipeline.
    bt = docs.groupBy("source", "bucket").agg(
        F.sum("n_tok").cast("long").alias("btok")
    ).persist()
    woff = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bt.select(
        "source",
        "bucket",
        F.coalesce(F.sum("btok").over(woff), F.lit(0)).cast("long").alias("off"),
    )
    totals = bt.groupBy("source").agg(F.sum("btok").cast("long").alias("tok_s"))
    budget = totals.agg(
        F.sum("tok_s").cast("long").alias("tok_total"),
        F.sum(F.pow(F.col("tok_s").cast("double"), F.lit(1.0 / MIX_TEMPERATURE)))
        .alias("w_sum"),
    )
    quota = totals.crossJoin(F.broadcast(budget)).select(
        "source",
        "tok_s",
        F.floor(
            F.col("tok_total")
            * F.lit(MIX_BUDGET_FRAC)
            * F.pow(F.col("tok_s").cast("double"), F.lit(1.0 / MIX_TEMPERATURE))
            / F.col("w_sum")
        )
        .cast("long")
        .alias("quota_tokens"),
    )
    # The offsets (|sources|·MIX_BUCKETS rows) and quotas (|sources|
    # rows) are tiny derived tables that were re-broadcast per run (two
    # broadcast builds + the budget job each execution). They are now
    # collected ONCE per process — via the SAME Spark expression trees,
    # so every value is bit-identical by construction — keyed to
    # documents.parquet's (mtime, size) like every plan literal, and
    # folded back in as map literals: the per-row lookups replace both
    # broadcast joins (the joins were total — every (source, bucket) in
    # docs appears in bt by construction — so row identity is untouched).
    import os as _os2

    from tiflash_spark.pipeline.similarity import _fold_json_literal

    def _fetch_mix_literals():
        off_rows = offs.collect()
        if any("|" in r.source for r in off_rows):
            raise ValueError(
                "source names may not contain '|' (mix offset map key separator)"
            )
        return (
            {f"{r.source}|{r.bucket}": int(r.off) for r in off_rows},
            {r.source: int(r.quota_tokens) for r in quota.collect()},
        )

    off_map, quota_map = literal_memo(
        _os2.path.join(sf_dir, "documents.parquet"),
        "mix_offs_quota",
        _fetch_mix_literals,
    )
    off_c = F.element_at(
        _fold_json_literal(off_map, "map<string,bigint>"),
        F.concat_ws("|", F.col("source"), F.col("bucket")),
    )
    quota_c = F.element_at(
        _fold_json_literal(quota_map, "map<string,bigint>"), F.col("source")
    )
    wcum = (
        Window.partitionBy("source", "bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    placed = docs.select(
        "source",
        "n_tok",
        quota_c.alias("quota_tokens"),
        (off_c + F.sum("n_tok").over(wcum)).alias("cum"),
    )
    kept = placed.filter(F.col("cum") - F.col("n_tok") < F.col("quota_tokens"))
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs_kept"),
            F.sum("n_tok").cast("long").alias("tokens_kept"),
            F.min("quota_tokens").cast("long").alias("quota_tokens"),
            F.round(F.sum("n_tok") / F.min("quota_tokens"), 4).alias("fill_ratio"),
            F.sum("cum").cast("long").alias("order_digest"),
        )
        .orderBy("source")
    )


MIX_TOKEN_BUDGET_SQL = """
WITH docs AS (
  SELECT doc_id, source,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +')) END AS n_tok,
         ((doc_id + 20240817) * 1103515245 + 12345) % 2147483648 AS h
  FROM documents
),
totals AS (
  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS tok_s FROM docs GROUP BY source
),
budget AS (
  SELECT CAST(SUM(tok_s) AS BIGINT) AS tok_total,
         SUM(POWER(CAST(tok_s AS DOUBLE), 1.0 / 0.7)) AS w_sum
  FROM totals
),
quota AS (
  SELECT t.source, t.tok_s,
         CAST(FLOOR(b.tok_total * 0.5
                    * POWER(CAST(t.tok_s AS DOUBLE), 1.0 / 0.7)
                    / b.w_sum) AS BIGINT) AS quota_tokens
  FROM totals t CROSS JOIN budget b
),
placed AS (
  SELECT d.source, d.n_tok, q.quota_tokens,
         SUM(d.n_tok) OVER (PARTITION BY d.source
                            ORDER BY (d.h // 65536) % 64, d.h, d.doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM docs d JOIN quota q ON d.source = q.source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS docs_kept,
       CAST(SUM(n_tok) AS BIGINT) AS tokens_kept,
       CAST(MIN(quota_tokens) AS BIGINT) AS quota_tokens,
       ROUND(CAST(SUM(n_tok) AS DOUBLE) / MIN(quota_tokens), 4) AS fill_ratio,
       CAST(SUM(cum) AS BIGINT) AS order_digest
FROM placed
WHERE cum - n_tok < quota_tokens
GROUP BY source
ORDER BY source
"""


QUERIES["shard_training_order"] = shard_training_order
QUERIES["mix_token_budget"] = mix_token_budget
ORACLE["shard_training_order"] = SHARD_TRAINING_ORDER_SQL
ORACLE["mix_token_budget"] = MIX_TOKEN_BUDGET_SQL


# --- dataset report card ------------------------------------------------------


def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The "data card" a training run ships with, in ONE corpus pass:
    ROLLUP(source, lang) × {docs, tokens, distinct contents (exact-dup
    view), Gopher keep rate} — per-cell, per-source, and corpus-total
    rows from a single Expand aggregate.

    Scale: one tokenize (materialized array column, the quality_signals
    rule), one rollup aggregate; COUNT(DISTINCT fp) rides the same
    shuffle via Spark's distinct-aggregate expansion. No second corpus
    pass for any column."""
    from tiflash_spark.pipeline.text import (
        QUALITY_RULE,
        dup_frac_of,
        mean_word_len,
        quality_keep,
        tokens,
        top_word_frac,
        word_grams,
    )

    d = load_table(spark, sf_dir, "documents").withColumn(
        "w", tokens(F.col("text"))
    )

    # signals staged into columns first (the quality_signals staging
    # note): the keep rule then reads cheap attributes, so each gram
    # array / fold is built once per row instead of once per mention.
    # The whole projection is CONSTANT — prepared() once per JVM (the
    # deep HOF trees cost ~0.25 s of py4j per build, guide §5).
    def _build_sig_cols():
        w = F.col("w")
        n = F.when(
            F.length(F.trim(F.col("text"))) == 0, F.lit(0)
        ).otherwise(F.size(w))
        sig_cols = (
            F.md5(F.trim(F.col("text"))).alias("fp"),
            n.alias("_n"),
            mean_word_len(w).alias("_mwl"),
            top_word_frac(w).alias("_twf"),
            word_grams(w, 3).alias("_g3"),
        )
        keep = quality_keep(
            F.col("_n"), F.col("_mwl"), F.col("_twf"), dup_frac_of(F.col("_g3"))
        )
        return sig_cols + (
            F.col("_n").cast("long").alias("n_tok"),
            keep.cast("int").alias("keep"),
        )

    *sig_cols, n_tok_c, keep_c = prepared(
        ("dataset_card", "sig_cols", tuple(QUALITY_RULE.items())), _build_sig_cols
    )
    sig = d.select("source", "lang", *sig_cols)
    # the 5-column NARROW proxy (source, lang, fp, n_tok, keep) is
    # persisted — the mix_token_budget pattern: the corpus-pass signal
    # expressions (the dominant cost after staging, r10 audit) compute
    # once per session and every rollup run reads ~5 k narrow cached
    # rows. One CacheManager entry per sf_dir, the accepted in-query
    # persist; results still compute from the parquet input. (Persisting
    # WIDE array columns measured a wash — see OPTIMIZATION_r11.md
    # rejections — it is the narrowness that pays here.)
    per_doc = sig.select("source", "lang", "fp", n_tok_c, keep_c).persist()
    return (
        per_doc.rollup("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.countDistinct("fp").cast("long").alias("n_unique"),
            F.round(F.avg("keep"), 4).alias("keep_rate"),
            F.grouping("source").cast("int").alias("g_src"),
            F.grouping("lang").cast("int").alias("g_lang"),
        )
        .orderBy("g_src", "g_lang", "source", "lang")
    )


DATASET_CARD_SQL = """
WITH tok AS (
  SELECT doc_id, source, lang, MD5(TRIM(text)) AS fp,
         REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +') AS w,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +')) END AS n
  FROM documents
), topw AS (
  SELECT doc_id, MAX(c) AS top_count
  FROM (SELECT doc_id, COUNT(*) AS c
        FROM (SELECT doc_id, UNNEST(w) AS t FROM tok) GROUP BY doc_id, t)
  GROUP BY doc_id
), sig AS (
  SELECT k.source, k.lang, k.fp, k.n,
         CAST(t.top_count AS DOUBLE) / k.n AS twf,
         CASE WHEN LEN(g3) > 0
              THEN 1 - CAST(LEN(LIST_DISTINCT(g3)) AS DOUBLE) / LEN(g3)
              ELSE 0.0 END AS dup3,
         CAST(LIST_SUM(LIST_TRANSFORM(w, x -> LENGTH(x))) AS DOUBLE) / k.n AS mwl
  FROM (SELECT *,
               LIST_TRANSFORM(RANGE(1, GREATEST(LEN(w) - 2, 0) + 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3
        FROM tok) k
  JOIN topw t ON k.doc_id = t.doc_id
)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
       ROUND(AVG(CASE WHEN n >= 10 AND n <= 100000 AND mwl >= 3 AND mwl <= 10
                           AND twf <= 0.2 AND dup3 <= 0.2
                      THEN 1 ELSE 0 END), 4) AS keep_rate,
       CAST(GROUPING(source) AS INT) AS g_src,
       CAST(GROUPING(lang) AS INT) AS g_lang
FROM sig
GROUP BY ROLLUP(source, lang)
ORDER BY g_src, g_lang, source, lang
"""


QUERIES["dataset_card"] = dataset_card
ORACLE["dataset_card"] = DATASET_CARD_SQL


# --- end-to-end curation pipeline composition --------------------------------


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-curation chain as ONE query: quality keep-rule →
    exact dedup (min-doc_id keeper) → benchmark decontamination →
    sequence packing, reported per source with counts after every stage.
    Composing the stages proves they stack without surprise shuffles:
    quality/fingerprint/grams are narrow projections, dedup adds one fp
    shuffle, decontamination one gram semi-join, packing one per-shard
    window — the same plan elements each stage showed alone.

    Eval set = doc_id % 97 == 0 (the decontaminate fixture); packing uses
    PACK_CAPACITY-token chunks.

    ONE corpus pass (r11): the raw-count branch, the eval-gram side and
    the quality/keeper frame previously each re-scanned + re-tokenized
    the corpus (3 scans); now a single cached NARROW frame (doc_id,
    source, fp, w, n_tok, q, is_eval, is_keeper — no text) feeds every
    stage. The keeper window runs over all rows with the quality flag
    folded into the min — min(when(q, doc_id)) over fp ignores the
    non-quality rows, so is_keeper is row-identical to windowing the
    filtered frame — and raw/quality/unique counts collapse into one
    conditional aggregate over the cache (was: two aggregates + a join).
    Gram explodes on both sides read the staged ``w`` via
    contaminated_ids(tokens_col=...) instead of re-splitting text.
    Caching policy unchanged: CacheManager keys by analyzed plan → one
    entry per sf_dir, reused across calls."""
    from pyspark.sql import Window

    from tiflash_spark.pipeline.dedup import fingerprint
    from tiflash_spark.pipeline.text import (
        QUALITY_RULE,
        dup_frac_of,
        mean_word_len,
        quality_keep,
        scan_underparallelized,
        tokens,
        top_word_frac,
        word_grams,
    )

    d = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    base = d.select("doc_id", "source", "text")
    if scan_underparallelized(base, par):
        # restore parallelism by hash-partitioning on the dedup
        # FINGERPRINT (md5 is cheap map-side work) instead of
        # round-robin: the same exchange then already satisfies the
        # keeper window's required distribution, so the corpus crosses
        # the wire once, not twice (round-robin repartition + a second
        # full-width fp exchange before the window)
        base = base.withColumn("fp", fingerprint(F.col("text"))).repartition(
            par, "fp"
        )
    else:
        base = base.withColumn("fp", fingerprint(F.col("text")))
    base = base.withColumn("w", tokens(F.col("text")))

    # keep rule stays INLINE here (unlike quality_signals/dataset_card's
    # column staging): the signals are filter-only — the AND chain
    # short-circuits the expensive twf/gram work for rows that fail the
    # cheap length windows, and staging them as always-computed columns
    # measured SLOWER (1.63 s → 1.82 s end-to-end at sf0.1). Staging the
    # single BOOLEAN q is different: it is evaluated once per row either
    # way (it was a filter before), and the short-circuit still runs
    # inside the expression.
    #
    # The whole staged projection is CONSTANT, and constructing it
    # (word_grams' zip_with chain, top_word_frac's fold) measured
    # 0.3-0.4 s of py4j round-trips per query build — so the Column
    # tuple is prepared() once per JVM (guide §5: driver work).
    def _build_staged_cols():
        n = F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0)).otherwise(
            F.size(F.col("w"))
        )
        mwl = mean_word_len(F.col("w"))
        keep = quality_keep(
            n, mwl, top_word_frac(F.col("w")), dup_frac_of(word_grams(F.col("w"), 3))
        )
        is_eval = F.col("doc_id") % 97 == 0
        return (
            n.cast("long").alias("n_tok"),
            (keep & ~is_eval).alias("q"),
            is_eval.alias("is_eval"),
        )

    n_tok_c, q_c, is_eval_c = prepared(
        ("curation_pipeline", "staged_cols", tuple(QUALITY_RULE.items())),
        _build_staged_cols,
    )
    staged = base.select("doc_id", "source", "fp", "w", n_tok_c, q_c, is_eval_c)
    # min(when(q, doc_id)) ignores NULLs, so the keeper pick sees only
    # quality non-eval rows — identical to the old filtered window; the
    # cached frame is NARROW (no text) and one per sf_dir (measured r10:
    # forcing unpersist-per-call doubled steady-state runtime)
    qf = staged.withColumn(
        "is_keeper",
        prepared(
            ("curation_pipeline", "keeper_col"),
            lambda: F.col("q")
            & (
                F.col("doc_id")
                == F.min(F.when(F.col("q"), F.col("doc_id"))).over(
                    Window.partitionBy("fp")
                )
            ),
        ),
    ).persist()
    unique = qf.where(F.col("is_keeper"))
    eval_docs = qf.where(F.col("is_eval"))
    dirty = contaminated_ids(unique, eval_docs, tokens_col="w").select("doc_id")

    # ONE aggregate for the whole report (r11): instead of anti-joining
    # the keepers, aggregating clean and raw frames separately and
    # joining the two per-source aggregates back together, flag
    # contamination onto the cached frame (broadcast LEFT join against
    # the tiny distinct dirty set — an anti join in flag form) and run
    # the packing window over ALL rows with the flag folded into the
    # running sum: sum(when(clean, n_tok)) at a clean row equals the
    # running sum over clean rows only, so chunk_id is identical where it
    # is consumed. Raw/quality/unique/clean/token/chunk counts then come
    # out of ONE conditional aggregate — the second groupBy exchange, the
    # counts⋈packed broadcast join and its coalesce projection are gone
    # (guide §2.4: two aggregations keyed the same way share one
    # exchange; measured: 3 fewer AQE stages per run).
    def _build_report_cols():
        clean = F.col("is_keeper") & F.col("_dirty").isNull()
        w = Window.partitionBy("source").orderBy("doc_id")
        chunk = F.floor(
            (F.sum(F.when(clean, F.col("n_tok"))).over(w) - F.col("n_tok"))
            / PACK_CAPACITY
        ).cast("long").alias("chunk_id")
        aggs = (
            F.count(F.lit(1)).cast("long").alias("n_raw"),
            F.count(F.when(F.col("q"), 1)).cast("long").alias("n_quality"),
            F.count(F.when(F.col("is_keeper"), 1)).cast("long").alias("n_unique"),
            F.count(F.when(clean, 1)).cast("long").alias("n_clean"),
            F.coalesce(F.sum(F.when(clean, F.col("n_tok"))), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
            F.coalesce(F.max(F.when(clean, F.col("chunk_id"))) + 1, F.lit(0))
            .cast("long")
            .alias("n_chunks"),
        )
        return (chunk,) + aggs

    chunk_c, *agg_cs = prepared(
        ("curation_pipeline", "report_cols", PACK_CAPACITY), _build_report_cols
    )
    flagged = qf.join(
        F.broadcast(dirty.withColumn("_dirty", F.lit(1))), "doc_id", "left"
    ).withColumn("chunk_id", chunk_c)
    return flagged.groupBy("source").agg(*agg_cs).orderBy("source")


CURATION_PIPELINE_SQL = """
WITH tok AS (
  SELECT doc_id, source, text,
         REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +') AS w
  FROM documents
), topw AS (
  SELECT doc_id, MAX(c) AS top_count
  FROM (SELECT doc_id, COUNT(*) AS c
        FROM (SELECT doc_id, UNNEST(w) AS t FROM tok) GROUP BY doc_id, t)
  GROUP BY doc_id
), sig AS (
  SELECT t.doc_id,
         (LEN(w) >= 10 AND LEN(w) <= 100000
          AND CAST(LIST_SUM(LIST_TRANSFORM(w, x -> LENGTH(x))) AS DOUBLE) / LEN(w)
              BETWEEN 3 AND 10
          AND CAST(p.top_count AS DOUBLE) / LEN(w) <= 0.2
          AND (CASE WHEN LEN(w) > 2 THEN
                 1 - CAST(LEN(LIST_DISTINCT(
                       LIST_TRANSFORM(RANGE(1, LEN(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                     )) AS DOUBLE) / (LEN(w) - 2)
               ELSE 0.0 END) <= 0.2) AS keep
  FROM tok t JOIN topw p ON t.doc_id = p.doc_id
), quality AS (
  SELECT t.doc_id, t.source, t.text, t.w
  FROM tok t JOIN sig s ON t.doc_id = s.doc_id
  WHERE s.keep AND t.doc_id % 97 <> 0
), uniq AS (
  SELECT q.doc_id, q.source, q.text, q.w
  FROM quality q
  JOIN (SELECT MD5(REGEXP_REPLACE(LOWER(TRIM(text)), ' +', ' ', 'g')) AS fp,
               MIN(doc_id) AS keep_id
        FROM quality GROUP BY 1) k
    ON MD5(REGEXP_REPLACE(LOWER(TRIM(q.text)), ' +', ' ', 'g')) = k.fp
       AND q.doc_id = k.keep_id
), eval_grams AS (
  SELECT DISTINCT UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(w) - 4, 0) + 1),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                || ' ' || w[i+4])) AS gram
  FROM tok WHERE doc_id % 97 = 0 AND LEN(w) >= 5
), dirty AS (
  SELECT DISTINCT u.doc_id
  FROM (SELECT doc_id,
               UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(w) - 4, 0) + 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                      || ' ' || w[i+4])) AS gram
        FROM uniq WHERE LEN(w) >= 5) u
  JOIN eval_grams e ON u.gram = e.gram
), clean AS (
  SELECT u.doc_id, u.source,
         CASE WHEN LENGTH(TRIM(u.text)) = 0 THEN 0 ELSE LEN(u.w) END AS n_tok
  FROM uniq u
  WHERE NOT EXISTS (SELECT 1 FROM dirty x WHERE x.doc_id = u.doc_id)
), placed AS (
  SELECT source, n_tok,
         CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tok)
                    / 2048) AS BIGINT) AS chunk_id
  FROM clean
), packed AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_clean,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         CAST(MAX(chunk_id) + 1 AS BIGINT) AS n_chunks
  FROM placed GROUP BY source
)
SELECT r.source,
       CAST(r.n_raw AS BIGINT) AS n_raw,
       CAST(COALESCE(q.n_quality, 0) AS BIGINT) AS n_quality,
       CAST(COALESCE(u.n_unique, 0) AS BIGINT) AS n_unique,
       CAST(COALESCE(p.n_clean, 0) AS BIGINT) AS n_clean,
       CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(p.n_chunks, 0) AS BIGINT) AS n_chunks
FROM (SELECT source, COUNT(*) AS n_raw FROM documents GROUP BY source) r
LEFT JOIN (SELECT source, COUNT(*) AS n_quality FROM quality GROUP BY source) q
  ON r.source = q.source
LEFT JOIN (SELECT source, COUNT(*) AS n_unique FROM uniq GROUP BY source) u
  ON r.source = u.source
LEFT JOIN packed p ON r.source = p.source
ORDER BY r.source
"""

QUERIES["curation_pipeline"] = curation_pipeline
ORACLE["curation_pipeline"] = CURATION_PIPELINE_SQL


# --- boilerplate line removal (cross-document line dedup) -------------------
#
# RefinedWeb/CCNet-style boilerplate stripping: a "line" that appears in
# many distinct documents (headers, footers, nav text, license blurbs) is
# removed from every document while the in-order remainder is kept. The
# driver's synthetic documents have no newlines, so a line here is a
# fixed-width window of LINE_W consecutive tokens — the splitter is the
# only corpus-specific piece (swap in split('\n') for real text); the
# dedup/reassembly machinery is the real surface.
#
# Scale shape: one narrow posexplode (doc_id, source, pos, line), one
# line-keyed aggregation for document frequency, one anti join back, one
# doc-keyed aggregation to reassemble. No corpus-wide sort; the common-line
# set is df-thresholded (boilerplate is by definition high-df, so that set
# is small and broadcastable — Spark picks broadcast from its stats).

LINE_W = 3
BOILER_DF = 5


def _line_array(text: Column) -> Column:
    toks = tokens(text)
    n_lines = F.ceil(F.size(toks) / F.lit(LINE_W)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(F.slice(toks, i * LINE_W + 1, F.lit(LINE_W)), " "),
    )


def _dedup_lines(lines: DataFrame) -> DataFrame:
    """Core cross-doc line dedup over a (doc_id, source, pos, line) frame:
    drop every line whose document frequency >= BOILER_DF, reassemble
    the rest in order.

    collect_list skips the NULLed-out common lines, which also keeps
    all-lines-dropped docs in the output with clean_text = '' — no
    separate totals branch or outer join."""
    common = (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("df_docs"))
        .filter(F.col("df_docs") >= BOILER_DF)
        .select("line", F.lit(True).alias("_boiler"))
    )
    flagged = lines.join(common, "line", "left")
    kept_line = F.when(F.col("_boiler").isNull(), F.struct("pos", "line"))
    return flagged.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.count(kept_line).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_line)), lambda s: s["line"]
            ),
            " ",
        ).alias("clean_text"),
    )


def remove_boilerplate_lines(docs: DataFrame) -> DataFrame:
    """(doc_id, source, n_lines, n_kept, clean_text) from an arbitrary
    documents frame — the ad-hoc path: one posexplode feeding both the
    df agg and the flag join."""
    lines = docs.select(
        "doc_id", "source", F.posexplode(_line_array(F.col("text"))).alias("pos", "line")
    )
    return _dedup_lines(lines)


def line_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-rest (doc_id, source, pos, line) table, bucketed by line —
    the ws_token_table treatment (text.py) for line-level consumers: the
    corpus tokenize + posexplode is paid ONCE at build time, and both
    legs of the boilerplate query (line-df aggregation AND flag join)
    read the pre-exploded table with bucket-local exchanges instead of
    re-Generating the corpus twice per run. At 100 TB the explode is the
    dominant scan cost, so this is a 2× cut on the heaviest stage."""

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        return d.select(
            "doc_id",
            "source",
            F.posexplode(_line_array(F.col("text"))).alias("pos", "line"),
        )

    return bucketed(
        spark, sf_dir, "documents", f"doc_lines_{sf_tag(sf_dir)}", build, ("line",), 32
    )


def boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: per-source boilerplate-removal report with a strong
    content digest (total clean-text length) so the oracle pins the
    reassembled text, not just the counts. Reads the persisted line
    table — one corpus Generate at build time, zero per query.

    The report consumes only LENGTH(clean_text), never the text — and
    LENGTH(array_join(kept, ' ')) ≡ Σ len(line) + (n_kept − 1)
    separators, so the digest is computed ARITHMETICALLY from per-line
    lengths (r11): the per-doc exchange carries (kept flag, length int)
    instead of every line string, and the collect_list + array_sort +
    array_join per doc disappears. Value-identical by the join identity
    above (order never affects a sum of lengths); pinned per-doc against
    the reassembling _dedup_lines in tests/test_curation.py, and
    remove_boilerplate_lines keeps returning the real clean_text for
    consumers that need it. Measured (8 interleaved trials at sf0.1):
    9.23 → 8.21 s sum, winner 7/8."""
    from pyspark.sql import Window

    lines = line_table(spark, sf_dir)
    # ONE scan of the line table (r11): the old form aggregated
    # df_docs = COUNT(DISTINCT doc_id) per line and joined the flag back
    # — a second full scan plus distinct-aggregate machinery. Windows
    # cannot take DISTINCT aggregates, but max(dense_rank ORDER BY
    # doc_id) over the same line partition IS the distinct doc count —
    # and the table is bucketed+sorted by line, so both windows are
    # bucket-local (no exchange, one per-group sort by doc_id). Flag
    # identity: df_docs is per-line constant, every row keeps its
    # (boiler, length) pair exactly as the join produced it.
    w_line = Window.partitionBy("line")
    df_docs = F.max(
        F.dense_rank().over(w_line.orderBy("doc_id"))
    ).over(w_line)
    flagged = lines.select(
        "doc_id",
        "source",
        (df_docs < BOILER_DF).alias("_kept"),
        F.length("line").alias("_len"),
    )
    per_doc = flagged.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.count(F.when(F.col("_kept"), 1)).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("_kept"), F.col("_len"))).alias("_kept_len"),
    ).select(
        "doc_id",
        "source",
        "n_lines",
        "n_kept",
        F.when(F.col("n_kept") > 0, F.col("_kept_len") + F.col("n_kept") - 1)
        .otherwise(F.lit(0))
        .alias("clean_len"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_lines").cast("long").alias("total_lines"),
            F.sum("n_kept").cast("long").alias("kept_lines"),
            F.round(
                F.avg(1.0 - F.col("n_kept") / F.col("n_lines")), 4
            ).alias("avg_drop_frac"),
            F.sum("clean_len").cast("long").alias("clean_chars"),
        )
        .orderBy("source")
    )


BOILERPLATE_LINES_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +') AS tk
  FROM documents
),
lines AS (
  SELECT doc_id, source, i AS pos,
         ARRAY_TO_STRING(tk[(i*{LINE_W}+1):(i*{LINE_W}+{LINE_W})], ' ') AS line
  FROM toks, LATERAL (
    SELECT UNNEST(GENERATE_SERIES(0,
      CAST(CEIL(LEN(tk) / {LINE_W}.0) AS INT) - 1)) AS i
  ) g
),
common AS (
  SELECT line FROM lines GROUP BY line
  HAVING COUNT(DISTINCT doc_id) >= {BOILER_DF}
),
kept AS (
  SELECT l.* FROM lines l
  WHERE NOT EXISTS (SELECT 1 FROM common c WHERE c.line = l.line)
),
clean AS (
  SELECT doc_id, source,
         CAST(COUNT(*) AS BIGINT) AS n_kept,
         ARRAY_TO_STRING(LIST(line ORDER BY pos), ' ') AS clean_text
  FROM kept GROUP BY doc_id, source
),
totals AS (
  SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_lines
  FROM lines GROUP BY doc_id, source
),
per_doc AS (
  SELECT t.doc_id, t.source, t.n_lines,
         COALESCE(c.n_kept, 0) AS n_kept,
         COALESCE(c.clean_text, '') AS clean_text
  FROM totals t LEFT JOIN clean c
    ON t.doc_id = c.doc_id AND t.source = c.source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_lines) AS BIGINT) AS total_lines,
       CAST(SUM(n_kept) AS BIGINT) AS kept_lines,
       ROUND(AVG(1.0 - CAST(n_kept AS DOUBLE) / n_lines), 4) AS avg_drop_frac,
       CAST(SUM(LENGTH(clean_text)) AS BIGINT) AS clean_chars
FROM per_doc
GROUP BY source
ORDER BY source
"""

QUERIES["boilerplate_lines"] = boilerplate_lines
ORACLE["boilerplate_lines"] = BOILERPLATE_LINES_SQL


# --- fuzzy decontamination (near-dup eval overlap) ---------------------------
#
# Exact n-gram decontamination (above) misses lightly mutated eval
# leakage — the case GPT-3's post-hoc analysis and every later data
# card worries about. Fuzzy tier: word-bigram Jaccard against the eval
# set over prefix-blocked candidates — the dedup_ngram_jaccard oracle
# shape, pointed across the train/eval boundary. At 100 TB the blocking
# key swaps for the MinHash band index (pipeline/dedup.py
# minhash_band_index): band-collide train docs against eval bands, then
# the same exact-Jaccard verify on candidates only.

FUZZY_DECON_THRESHOLD = 0.5


def decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source report of training docs whose bigram Jaccard vs ANY
    eval doc reaches the threshold. Eval split = doc_id % 13 == 0 — a
    coarser split than exact decontamination's % 97, chosen because it
    is the smallest fixture split that actually CROSSES the synthetic
    corpus's near-dup families (measured: %97 crosses zero of the 25
    Jaccard>=0.5 pairs at sf0.01; %13 crosses one) — a vacuous
    always-zero check would verify nothing."""
    from tiflash_spark.pipeline.dedup import word_bigrams

    d = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 13 == 0
    docs = d.select(
        "doc_id", "source",
        F.substring("text", 1, 32).alias("blk"),
        word_bigrams(F.col("text")).alias("sh"),
    )
    train = docs.filter(~is_eval)
    ev = docs.filter(is_eval).select(
        F.col("blk"), F.col("doc_id").alias("eval_id"), F.col("sh").alias("esh")
    )
    inter = F.size(F.array_intersect(F.col("sh"), F.col("esh")))
    union = F.size(F.col("sh")) + F.size(F.col("esh")) - inter
    flagged = (
        train.join(ev, "blk")
        .select(
            "doc_id", "source",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= FUZZY_DECON_THRESHOLD)
        .groupBy("doc_id", "source")
        .agg(F.max("jaccard").alias("best_j"))
    )
    totals = train.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_train")
    )
    per_src = flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_fuzzy_contaminated"),
        F.round(F.avg("best_j"), 4).alias("avg_jaccard"),
    )
    return (
        totals.join(per_src, "source", "left")
        .select(
            "source",
            "n_train",
            F.coalesce("n_fuzzy_contaminated", F.lit(0)).alias("n_fuzzy_contaminated"),
            F.round(
                F.coalesce("n_fuzzy_contaminated", F.lit(0)) / F.col("n_train"), 6
            ).alias("contamination_rate"),
            F.coalesce("avg_jaccard", F.lit(0.0)).alias("avg_jaccard"),
        )
        .orderBy("source")
    )


DECONTAMINATE_FUZZY_SQL = """
WITH docs AS (
  SELECT doc_id, source,
         SUBSTRING(text, 1, 32) AS blk,
         LIST_DISTINCT(LIST_TRANSFORM(
           GENERATE_SERIES(1, LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +')) - 1),
           i -> REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +')[i] || ' ' ||
                REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +')[i+1]
         )) AS sh
  FROM documents
),
train AS (SELECT * FROM docs WHERE doc_id % 13 <> 0),
ev AS (SELECT blk, doc_id AS eval_id, sh AS esh FROM docs WHERE doc_id % 13 = 0),
pairs AS (
  SELECT t.doc_id, t.source,
         ROUND(CAST(LEN(LIST_INTERSECT(t.sh, e.esh)) AS DOUBLE)
               / (LEN(t.sh) + LEN(e.esh) - LEN(LIST_INTERSECT(t.sh, e.esh))),
               6) AS jaccard
  FROM train t JOIN ev e ON t.blk = e.blk
),
flagged AS (
  SELECT doc_id, source, MAX(jaccard) AS best_j
  FROM pairs WHERE jaccard >= 0.5
  GROUP BY doc_id, source
),
totals AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_train FROM train GROUP BY source
),
per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_fuzzy_contaminated,
         ROUND(AVG(best_j), 4) AS avg_jaccard
  FROM flagged GROUP BY source
)
SELECT t.source, t.n_train,
       CAST(COALESCE(p.n_fuzzy_contaminated, 0) AS BIGINT) AS n_fuzzy_contaminated,
       ROUND(COALESCE(p.n_fuzzy_contaminated, 0) / CAST(t.n_train AS DOUBLE), 6)
         AS contamination_rate,
       COALESCE(p.avg_jaccard, 0.0) AS avg_jaccard
FROM totals t LEFT JOIN per_src p ON t.source = p.source
ORDER BY t.source
"""

QUERIES["decontaminate_fuzzy"] = decontaminate_fuzzy
ORACLE["decontaminate_fuzzy"] = DECONTAMINATE_FUZZY_SQL
