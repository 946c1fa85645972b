"""Full-text / inverted-index search analogue (SURVEY.md §1.5 indexes).

Reference: TiFlash ships full-text and inverted indexes as first-class
storage-layer indexes (dbms/src/Storages/DeltaMerge/Index/FullTextIndex/,
Index/InvertedIndex/; schema dbms/src/TiDB/Schema/FullTextIndex.h,
InvertedIndex.h) — a query intersects per-term posting lists instead of
scanning the corpus.

Spark-first analogue:
- build_postings(docs)  — tokenize → posexplode → (term, doc_id, dl, tf,
  positions), ``dl`` being the document's token count. At rest this is
  ONE table written in one pass, *bucketed by term* into as many buckets
  as the corpus size calls for (index_tables), so a term lookup prunes
  to one bucket and a term↔term intersection is a co-located join with
  zero shuffle — the DataFrame rendering of a posting-list index.
- corpus_stats          — BM25's (N, avgdl), fetched once per version of
  the corpus and folded into plans as literals.
- keyword_search        — posting-row filter on the query terms →
  per-doc agg (match count, tf sum) → HAVING all/any → top-k.  The
  corpus table itself is never scanned; only postings.
- phrase_search         — positional intersection: adjacent terms must
  appear at consecutive positions (positions array carried per posting,
  exactly the InvertedIndex posting payload).
- bm25_search           — one scan of the query terms' postings: tf and
  dl from the row, df_t a count over the term's bucket-local rows.

Scale: postings are O(total tokens); the search plan touches only the
requested terms' rows — with term-bucketing that's a file-pruned scan,
then one shuffle on doc_id for the per-doc aggregation. No UDFs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiflash_spark.cache import bucketed, literal_memo, sf_tag, source_stamp, tree_stamp
from tiflash_spark.catalog import load_table

TOKEN_RE = "[^a-z0-9]+"
# Measured on a 4-core host over 1-64 buckets (the four full-text consumers
# warm, fulltext_bm25 cold): one bucket was fastest at 0.06-5.9 MB of
# documents, and at 18 MB tied 4 buckets warm and was 17% faster cold; at
# 57 MB 4 or 16 buckets were fastest. 24 MB per bucket gives 1, then 4.
BUCKET_BYTES = 24 << 20
MAX_BUCKETS = 64


def tokenize(col) -> "F.Column":
    """Lowercase split on non-alphanumeric runs, empty tokens dropped."""
    return F.filter(F.split(F.lower(col), TOKEN_RE), lambda t: t != "")


def doc_length(text) -> "F.Column":
    """A document's length: its token count, not positive for empty or
    NULL text. BM25's per-row ``dl`` (build_postings) and its (N, avgdl)
    (corpus_stats_of) both come from here, so they cannot drift apart."""
    return F.size(tokenize(text)).cast("long")


def build_postings(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(term, doc_id, dl, tf, positions) posting rows from a document table,
    one per (term, doc_id) — a GROUP BY term, doc_id. ``dl`` is the
    document's length (doc_length), so BM25 reads its length norm from the
    same row as tf. A document with empty or NULL text has no tokens and so
    no postings.

    CONTRACT: ``doc_id`` is the corpus key (500 of 500 rows distinct at
    sf0.01). Documents sharing a doc_id would fold into one: tf and
    positions merged, dl the largest length among those holding the term."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tokenize(F.col(text_col)).alias("toks"),
        doc_length(F.col(text_col)).alias("dl"),
    )
    return toks.select("doc_id", "dl", F.posexplode("toks").alias("pos", "term")).groupBy(
        "term", "doc_id"
    ).agg(
        F.max("dl").alias("dl"),
        F.count(F.lit(1)).alias("tf"),
        F.sort_array(F.collect_list("pos")).alias("positions"),
    )


# --- persisted index fixture (built once per sf, reused across queries) -----


def postings_buckets(sf_dir: str) -> int:
    """Term buckets for a corpus: one per BUCKET_BYTES of
    ``documents.parquet``, rounded up to a power of two, at most
    MAX_BUCKETS. More buckets let a lookup read fewer posting bytes, but
    each is a file per write task and a task per bucketed scan."""
    # one parquet file, or a directory of part files
    path = os.path.join(sf_dir, "documents.parquet")
    files = tree_stamp(path) or [source_stamp(path) or ("", 0, 0)]
    n = -(-sum(f[2] for f in files) // BUCKET_BYTES)
    return min(MAX_BUCKETS, 1 << max(n - 1, 0).bit_length())


def index_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-rest index of a corpus: term-bucketed postings with doc
    lengths. Search queries read THIS — the corpus scan and posting build
    are paid once per version of the corpus, like the reference's index
    build at write/compaction time (FullTextIndex is a storage-layer
    index, not a per-query structure)."""
    return bucketed(
        spark,
        sf_dir,
        "documents",
        f"ft_postings_{sf_tag(sf_dir)}",
        lambda: build_postings(load_table(spark, sf_dir, "documents")),
        ("term",),
        postings_buckets(sf_dir),
    )


def corpus_stats_of(docs: DataFrame, text_col: str = "text") -> tuple[float, float]:
    """(n_docs, avgdl) over the documents with at least one token — the
    documents that have postings — in one aggregate job."""
    row = (
        docs.select(doc_length(F.col(text_col)).alias("dl"))
        .filter(F.col("dl") > 0)
        .agg(F.count(F.lit(1)).cast("double").alias("n_docs"), F.avg("dl").alias("avgdl"))
        .first()
    )
    return row.n_docs, row.avgdl


def corpus_stats(spark: SparkSession, sf_dir: str) -> tuple[float, float]:
    """BM25's (n_docs, avgdl) for a corpus, fetched once per version of
    ``documents.parquet``: a cold call runs one aggregate job, a warm one
    none, and the query folds both in as literals."""
    return literal_memo(
        os.path.join(sf_dir, "documents.parquet"),
        "ft_corpus_stats",
        lambda: corpus_stats_of(load_table(spark, sf_dir, "documents")),
    )


def keyword_search(
    postings: DataFrame,
    terms: list[str],
    mode: str = "all",
    k: int = 10,
) -> DataFrame:
    """Top-k docs for a bag of terms: 'all' = every term must occur
    (posting-list intersection), 'any' = union. Ranked by total tf.
    Deterministic tiebreak on doc_id.

    CONTRACT: ``postings`` is unique per (term, doc_id) — true by
    construction from build_postings (a GROUP BY term, doc_id). That is
    why n_terms is a plain COUNT, not COUNT(DISTINCT): identical on
    unique rows, and it avoids Spark's distinct-aggregate Expand (3× the
    hit rows through the aggregate + an extra exchange)."""
    if mode not in ("all", "any"):
        raise ValueError(f"mode must be 'all' or 'any', got {mode!r}")
    hits = postings.filter(F.col("term").isin(*terms))
    per_doc = hits.groupBy("doc_id").agg(
        F.count("term").alias("n_terms"),
        F.sum("tf").cast("long").alias("total_tf"),
    )
    if mode == "all":
        per_doc = per_doc.filter(F.col("n_terms") == len(set(terms)))
    return per_doc.orderBy(F.col("total_tf").desc(), F.col("doc_id")).limit(k)


def phrase_search(postings: DataFrame, phrase: list[str], k: int | None = 10) -> DataFrame:
    """Docs containing the exact phrase: intersect per-term posting rows on
    doc_id, requiring term i+1 at position p+1 for some p of term i. The
    phrase-occurrence count is the number of valid start positions."""
    if len(phrase) < 2:
        raise ValueError("phrase_search needs >= 2 terms")
    cur = (
        postings.filter(F.col("term") == phrase[0])
        .select("doc_id", F.col("positions").alias("starts"))
    )
    for i, term in enumerate(phrase[1:], start=1):
        nxt = postings.filter(F.col("term") == term).select(
            "doc_id", F.col("positions").alias("_next")
        )
        offset = i
        cur = (
            cur.join(nxt, "doc_id")
            .withColumn(
                "starts",
                F.filter(
                    F.col("starts"),
                    lambda p: F.array_contains(F.col("_next"), p + offset),
                ),
            )
            .filter(F.size("starts") > 0)
            .drop("_next")
        )
    out = cur.select(
        "doc_id", F.size("starts").cast("long").alias("n_occurrences")
    ).orderBy(F.col("n_occurrences").desc(), F.col("doc_id"))
    return out.limit(k) if k is not None else out


def bm25_search(
    postings: DataFrame,
    terms: list[str],
    stats: tuple[float, float],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k docs by BM25 (OR semantics — standard BM25 scores any doc
    matching ≥1 term). Relevance ranking over the inverted index, the
    reference's FullTextIndex query model
    (dbms/src/Storages/DeltaMerge/Index/FullTextIndex/).

    score(D) = Σ_t ln(1 + (N - df_t + .5)/(df_t + .5))
                 · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

    ``stats`` is (N, avgdl), folded in as literals (corpus_stats fetches
    them once per corpus version). Everything else comes from ONE scan
    of the query terms' posting rows (bucket-pruned): tf and dl are on
    the row, and df_t is a count over the term's rows, a window
    partitioned by term that the term-bucketed layout satisfies without
    an exchange. Then one doc_id aggregate and the top-k.

    CONTRACT (shared with keyword_search): ``postings`` is unique per
    (term, doc_id) — build_postings is a GROUP BY term, doc_id — so df_t
    and n_terms are plain COUNTs instead of COUNT(DISTINCT): same value,
    no distinct-aggregate Expand. And ``doc_id`` is the corpus key (see
    build_postings), so ``dl`` is one document's length.
    """
    n_docs, avgdl = stats
    hits = postings.filter(F.col("term").isin(*terms)).select(
        "term", "doc_id", "tf", "dl",
        F.count("doc_id").over(Window.partitionBy("term")).alias("df"),
    )
    idf = F.log(F.lit(1.0) + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    contrib = idf * (F.col("tf") * F.lit(k1 + 1.0)) / (F.col("tf") + norm)
    scored = hits.groupBy("doc_id").agg(
        F.count("term").cast("long").alias("n_terms"),
        F.round(F.sum(contrib), 4).alias("bm25"),
    )
    return scored.orderBy(F.col("bm25").desc(), F.col("doc_id")).limit(k)


# --- driver queries ---------------------------------------------------------

SEARCH_TERMS = ["spark", "window", "hash"]
PHRASE = ["table", "scan"]


def fulltext_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword AND-search over documents via posting lists + a phrase count
    column for the fixed 2-gram, exercising both index paths.

    Reads the PERSISTED term-bucketed index (index_tables) — the measured
    cost is the search (bucket-pruned lookups + one doc agg), not the
    index build, which is amortized at write time exactly as in the
    reference's storage-layer index."""
    postings = index_tables(spark, sf_dir)
    t1, t2 = PHRASE
    lookup = sorted(set(SEARCH_TERMS) | set(PHRASE))
    # ONE index lookup for all five terms, ONE shuffle (the doc_id agg):
    # keyword tf/term counts and the two phrase-term position arrays come
    # out of the same aggregate, and the phrase count is a codegen array
    # intersection — no second scan, no kw↔phrase join.
    hits = postings.filter(F.col("term").isin(*lookup))
    is_kw = F.col("term").isin(*SEARCH_TERMS)
    # postings are unique per (term, doc_id) — index-build contract — so
    # counting the non-null kw rows equals COUNT(DISTINCT …): no Expand
    per_doc = hits.groupBy("doc_id").agg(
        F.count(F.when(is_kw, F.col("term"))).alias("n_terms"),
        F.sum(F.when(is_kw, F.col("tf"))).cast("long").alias("total_tf"),
        F.first(F.when(F.col("term") == t1, F.col("positions")), ignorenulls=True).alias("_p1"),
        F.first(F.when(F.col("term") == t2, F.col("positions")), ignorenulls=True).alias("_p2"),
    )
    phrase_hits = F.when(
        F.col("_p1").isNull() | F.col("_p2").isNull(), F.lit(0)
    ).otherwise(
        F.size(F.filter(F.col("_p1"), lambda p: F.array_contains(F.col("_p2"), p + 1)))
    )
    return (
        per_doc.filter(F.col("n_terms") == len(set(SEARCH_TERMS)))
        .withColumn("phrase_hits", phrase_hits.cast("long"))
        .orderBy(F.col("total_tf").desc(), F.col("doc_id"))
        .limit(20)
        .select("doc_id", "n_terms", "total_tf", "phrase_hits")
    )


FULLTEXT_SEARCH_SQL = """
WITH lst AS (
  SELECT doc_id,
         LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
tok AS (
  SELECT doc_id, toks[i] AS term, i - 1 AS pos
  FROM lst, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(toks))) AS i) g
),
postings AS (
  SELECT term, doc_id, COUNT(*) AS tf, LIST(pos ORDER BY pos) AS positions
  FROM tok GROUP BY term, doc_id
),
kw AS (
  SELECT doc_id, COUNT(DISTINCT term) AS n_terms, CAST(SUM(tf) AS BIGINT) AS total_tf
  FROM postings
  WHERE term IN ('spark', 'window', 'hash')
  GROUP BY doc_id
  HAVING COUNT(DISTINCT term) = 3
  ORDER BY total_tf DESC, doc_id
  LIMIT 20
),
ph AS (
  SELECT a.doc_id,
         CAST(LEN(LIST_FILTER(a.positions, p -> LIST_CONTAINS(b.positions, p + 1)))
              AS BIGINT) AS phrase_hits
  FROM postings a JOIN postings b ON a.doc_id = b.doc_id
  WHERE a.term = 'table' AND b.term = 'scan'
)
SELECT kw.doc_id, kw.n_terms, kw.total_tf,
       CAST(COALESCE(ph.phrase_hits, 0) AS BIGINT) AS phrase_hits
FROM kw LEFT JOIN ph ON kw.doc_id = ph.doc_id
ORDER BY kw.total_tf DESC, kw.doc_id
"""


def fulltext_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance ranking over the persisted inverted index."""
    return bm25_search(
        index_tables(spark, sf_dir), SEARCH_TERMS, corpus_stats(spark, sf_dir), k=20
    )


FULLTEXT_BM25_SQL = """
WITH lst AS (
  SELECT doc_id,
         LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
tok AS (
  SELECT doc_id, toks[i] AS term
  FROM lst, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(toks))) AS i) g
),
postings AS (
  SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY term, doc_id
),
doclen AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM postings GROUP BY doc_id
),
corpus AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM doclen
),
dft AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df
  FROM postings WHERE term IN ('spark', 'window', 'hash')
  GROUP BY term
),
scored AS (
  SELECT p.doc_id,
         CAST(COUNT(DISTINCT p.term) AS BIGINT) AS n_terms,
         ROUND(SUM(
           LN(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (p.tf * 2.2) / (p.tf + 1.2 * (0.25 + 0.75 * l.dl / c.avgdl))
         ), 4) AS bm25
  FROM postings p
  JOIN dft d ON p.term = d.term
  JOIN doclen l ON p.doc_id = l.doc_id
  CROSS JOIN corpus c
  GROUP BY p.doc_id
)
SELECT doc_id, n_terms, bm25
FROM scored
ORDER BY bm25 DESC, doc_id
LIMIT 20
"""

QUERIES = {"fulltext_search": fulltext_search, "fulltext_bm25": fulltext_bm25}
ORACLE = {
    "fulltext_search": FULLTEXT_SEARCH_SQL,
    "fulltext_bm25": FULLTEXT_BM25_SQL,
}


def boolean_search(
    postings: DataFrame,
    must: list[str],
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    k: int = 10,
) -> DataFrame:
    """Lucene-style boolean retrieval over the inverted index: ``must``
    terms all required (posting intersection), ``should`` terms optional
    but boost rank, ``must_not`` docs excluded by anti-join. Ranked by
    (#should matched, total tf), doc_id tiebreak.

    Scale: one bucket-pruned lookup for must+should, one doc_id agg, and
    one anti-join whose build side is only the must_not terms' postings
    — no corpus scan anywhere (reference FullTextIndex/Reader.h query
    model).

    ``postings`` must be an inverted index: exactly one row per
    (term, doc_id), which the index build guarantees (build_postings is
    a GROUP BY term, doc_id). That uniqueness lets the match counts be
    plain conditional COUNTs — a COUNT(DISTINCT term) here would plan an
    Expand (3× the hit rows) plus an extra exchange for the
    distinct-aggregate expansion, for identical results."""
    should = list(should or [])
    must_not = list(must_not or [])
    if not must:
        raise ValueError("boolean_search needs at least one must term")
    lookup = sorted(set(must) | set(should))
    hits = postings.filter(F.col("term").isin(*lookup)).select("term", "doc_id", "tf")
    is_must = F.col("term").isin(*must)
    per_doc = hits.groupBy("doc_id").agg(
        F.count(F.when(is_must, F.col("term"))).alias("n_must"),
        F.count(
            F.when(~is_must, F.col("term")) if should else F.lit(None)
        ).cast("long").alias("n_should"),
        F.sum("tf").cast("long").alias("total_tf"),
    ).filter(F.col("n_must") == len(set(must)))
    if must_not:
        excl = postings.filter(F.col("term").isin(*must_not)).select("doc_id").distinct()
        per_doc = per_doc.join(excl, "doc_id", "left_anti")
    return (
        per_doc.select("doc_id", "n_should", "total_tf")
        .orderBy(F.col("n_should").desc(), F.col("total_tf").desc(), F.col("doc_id"))
        .limit(k)
    )


BOOL_MUST = ["spark"]
BOOL_SHOULD = ["window", "hash"]
BOOL_MUST_NOT = ["table"]


def fulltext_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean retrieval driver query: must/should/must_not over the
    persisted index."""
    postings = index_tables(spark, sf_dir)
    return boolean_search(postings, BOOL_MUST, BOOL_SHOULD, BOOL_MUST_NOT, k=20)


FULLTEXT_BOOLEAN_SQL = """
WITH lst AS (
  SELECT doc_id,
         LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
tok AS (
  SELECT doc_id, toks[i] AS term
  FROM lst, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(toks))) AS i) g
),
postings AS (
  SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY term, doc_id
),
per_doc AS (
  SELECT doc_id,
         COUNT(DISTINCT CASE WHEN term IN ('spark') THEN term END) AS n_must,
         CAST(COUNT(DISTINCT CASE WHEN term IN ('window', 'hash') THEN term END)
              AS BIGINT) AS n_should,
         CAST(SUM(tf) AS BIGINT) AS total_tf
  FROM postings
  WHERE term IN ('spark', 'window', 'hash')
  GROUP BY doc_id
  HAVING COUNT(DISTINCT CASE WHEN term IN ('spark') THEN term END) = 1
)
SELECT p.doc_id, p.n_should, p.total_tf
FROM per_doc p
WHERE NOT EXISTS (
  SELECT 1 FROM postings x WHERE x.doc_id = p.doc_id AND x.term IN ('table')
)
ORDER BY p.n_should DESC, p.total_tf DESC, p.doc_id
LIMIT 20
"""

QUERIES["fulltext_boolean"] = fulltext_boolean
ORACLE["fulltext_boolean"] = FULLTEXT_BOOLEAN_SQL
