"""Full-text / inverted-index search analogue (SURVEY.md §1.5 indexes).

Reference: TiFlash ships full-text and inverted indexes as first-class
storage-layer indexes (dbms/src/Storages/DeltaMerge/Index/FullTextIndex/,
Index/InvertedIndex/; schema dbms/src/TiDB/Schema/FullTextIndex.h,
InvertedIndex.h) — a query intersects per-term posting lists instead of
scanning the corpus.

Spark-first analogue:
- build_postings(docs)  — tokenize → posexplode → (term, doc_id, tf,
  positions).  At rest this table is *bucketed by term* (see
  save_postings_bucketed), so a term lookup prunes to one bucket and a
  term↔term intersection is a co-located join with zero shuffle — the
  DataFrame rendering of a posting-list index.
- keyword_search        — posting-row filter on the query terms →
  per-doc agg (match count, tf sum) → HAVING all/any → top-k.  The
  corpus table itself is never scanned; only postings.
- phrase_search         — positional intersection: adjacent terms must
  appear at consecutive positions (positions array carried per posting,
  exactly the InvertedIndex posting payload).

Scale: postings are O(total tokens); the search plan touches only the
requested terms' rows — with term-bucketing that's a file-pruned scan,
then one shuffle on doc_id for the per-doc aggregation. No UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiflash_spark.cache import bucketed, sf_tag, sidecar
from tiflash_spark.catalog import load_table

TOKEN_RE = "[^a-z0-9]+"


def tokenize(col) -> "F.Column":
    """Lowercase split on non-alphanumeric runs, empty tokens dropped."""
    return F.filter(F.split(F.lower(col), TOKEN_RE), lambda t: t != "")


def build_postings(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(term, doc_id, tf, positions) posting rows from a document table."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokenize(F.col(text_col))).alias("pos", "term"),
    )
    return toks.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"),
        F.sort_array(F.collect_list("pos")).alias("positions"),
    )


def save_postings_bucketed(
    postings: DataFrame, table: str, buckets: int = 64, path: str | None = None
) -> None:
    """Persist the index bucketed by term: lookups prune to one bucket,
    term-term joins co-locate (no shuffle) — the storage analogue of the
    reference's per-pack inverted index files. With ``path`` the table is
    external: dropping the catalog entry keeps the files, so a later
    session re-registers instead of rebuilding."""
    w = postings.write.mode("overwrite").bucketBy(buckets, "term").sortBy("term")
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def build_doc_lengths(postings: DataFrame) -> DataFrame:
    """(doc_id, dl): token count per document, derived from the index —
    the per-doc norm BM25 needs, stored beside the postings at build time
    (recomputing it per query would re-scan the whole index)."""
    return postings.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))


# --- persisted index fixture (built once per sf, reused across queries) -----


def index_tables(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The at-rest index pair for a corpus: term-bucketed postings and
    doc-bucketed lengths. Search queries read THESE — the corpus scan and
    posting build are paid once per scale factor, like the reference's
    index build at write/compaction time (FullTextIndex is a storage-layer
    index, not a per-query structure)."""
    tag = sf_tag(sf_dir)
    postings = bucketed(
        spark,
        sf_dir,
        "documents",
        f"ft_postings_{tag}",
        lambda: build_postings(load_table(spark, sf_dir, "documents")),
        ("term",),
        64,
    )
    doclen = bucketed(
        spark,
        sf_dir,
        "documents",
        f"ft_doclen_{tag}",
        lambda: build_doc_lengths(spark.table(f"ft_postings_{tag}")),
        ("doc_id",),
        16,
    )
    return postings, doclen


def corpus_stats(spark: SparkSession, sf_dir: str, doclen: DataFrame) -> DataFrame:
    """The 1-row (n_docs, avgdl) frame BM25 needs, persisted BESIDE the
    index like doclen itself (any real BM25 index stores its corpus
    stats with the postings): per query it is a 1-row parquet read
    instead of a full doc-length aggregate + broadcast subtree. Falls
    back to computing inline when there is no local warehouse."""
    agg = lambda: doclen.agg(  # noqa: E731
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    got = sidecar(
        spark, sf_dir, "documents",
        lambda loc: agg().coalesce(1).write.mode("overwrite").parquet(loc),
        f"ft_stats_{sf_tag(sf_dir)}",
    )
    return agg() if got is None else got[0]


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
    doclen: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Top-k docs by BM25 (OR semantics — standard BM25 scores any doc
    matching ≥1 term). Relevance ranking over the inverted index, the
    reference's FullTextIndex query model
    (dbms/src/Storages/DeltaMerge/Index/FullTextIndex/).

    score(D) = Σ_t ln(1 + (N - df_t + .5)/(df_t + .5))
                 · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

    Scale: the only full-corpus inputs are N and avgdl — pass ``stats``
    (the 1-row frame corpus_stats persists beside the index at build
    time) so the query never aggregates the doc-length table at all;
    without it the stats are one tiny agg over doclen (one row per doc),
    broadcast as a 1-row frame. Everything else touches just the query
    terms' posting rows (bucket-pruned) and their docs' length rows.

    CONTRACT (shared with keyword_search): ``postings`` is unique per
    (term, doc_id) — build_postings is a GROUP BY — and the df_t/doclen
    joins are one-row-per-key, so n_terms is a plain COUNT instead of
    COUNT(DISTINCT): same value, no distinct-aggregate Expand.
    """
    hits = postings.filter(F.col("term").isin(*terms)).select("term", "doc_id", "tf")
    # (term, doc_id) unique ⇒ plain COUNT is the document frequency
    df_t = F.broadcast(
        hits.groupBy("term").agg(F.count("doc_id").alias("df"))
    )
    if stats is None:
        stats = doclen.agg(
            F.count(F.lit(1)).cast("double").alias("n_docs"),
            F.avg("dl").alias("avgdl"),
        )
    corpus = F.broadcast(stats)
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    contrib = idf * (F.col("tf") * F.lit(k1 + 1.0)) / (F.col("tf") + norm)
    scored = (
        hits.join(df_t, "term")
        .join(doclen, "doc_id")
        .crossJoin(corpus)
        .groupBy("doc_id")
        .agg(
            F.count("term").cast("long").alias("n_terms"),
            F.round(F.sum(contrib), 4).alias("bm25"),
        )
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
    postings, _ = index_tables(spark, sf_dir)
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
    postings, doclen = index_tables(spark, sf_dir)
    return bm25_search(
        postings, doclen, SEARCH_TERMS, k=20,
        stats=corpus_stats(spark, sf_dir, doclen),
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
    postings, _ = index_tables(spark, sf_dir)
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
