"""Deduplication operators — exact and near-dup, designed for 100 TB.

Four tiers, matching a production training-data pipeline:

1. exact        — hash-groupBy on a text fingerprint. One shuffle on the
                  md5 key; group sizes are tiny so no skew concern.
2. minhash_lsh  — shingle → K minhashes → B bands → band-bucket join.
                  Candidate generation is a self-join on (band_id, band
                  hash), i.e. O(sum of bucket²) not O(n²); verification
                  re-computes exact Jaccard only for candidates. All
                  hashing is JVM-side xxhash64 — no Python in the path.
3. simhash      — 64-bit sign-aggregated word-hash fingerprint; near-dups
                  have small Hamming distance. Bucketing by 16-bit bands
                  gives the scale path (4 bands → Hamming<=3 guaranteed
                  candidate recall within a band match).
4. ngram_jaccard— exact word-bigram Jaccard verified on prefix-blocked
                  candidates; the oracle-checkable ground truth for 2+3.

At 100 TB: every tier is (narrow map) → (shuffle on a short hash key) →
(narrow verify). Nothing materializes O(n²); bucket skew is bounded by
LSH band width and AQE skew-join splitting.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tiflash_spark.cache import bucketed, literal_memo, sf_tag
from tiflash_spark.catalog import load_table
from tiflash_spark.pipeline.text import fingerprint, tokens

# --- 1. exact dedup -------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via fingerprint group: keep min(doc_id) per group,
    report corpus-level dup stats per source."""
    d = load_table(spark, sf_dir, "documents")
    groups = d.groupBy(fingerprint(F.col("text")).alias("fp")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("keeper"),
    )
    return groups.agg(
        F.count(F.lit(1)).alias("n_unique_docs"),
        F.sum("n_copies").alias("n_total_docs"),
        (F.sum("n_copies") - F.count(F.lit(1))).alias("n_removed"),
        F.max("n_copies").alias("max_group"),
        F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0)).alias("n_dup_groups"),
    )


DEDUP_EXACT_SQL = """
WITH groups AS (
  SELECT MD5(REGEXP_REPLACE(LOWER(TRIM(text)), ' +', ' ', 'g')) AS fp,
         COUNT(*) AS n_copies,
         MIN(doc_id) AS keeper
  FROM documents
  GROUP BY 1
)
SELECT COUNT(*) AS n_unique_docs,
       CAST(SUM(n_copies) AS BIGINT) AS n_total_docs,
       CAST(SUM(n_copies) - COUNT(*) AS BIGINT) AS n_removed,
       MAX(n_copies) AS max_group,
       CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
FROM groups
"""


# --- shared shingling -----------------------------------------------------


def word_bigrams(text: Column) -> Column:
    """Distinct word-bigram shingles ('w1 w2') — zip_with over two slices is
    one pass with no per-index bounds checks (vs transform+element_at)."""
    ws = tokens(text)
    n = F.size(ws)
    return F.array_distinct(
        F.zip_with(
            F.slice(ws, 1, n - 1),
            F.slice(ws, 2, n - 1),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    )


# --- 4. exact n-gram Jaccard on blocked candidates (the oracle tier) ------


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact word-bigram Jaccard >= 0.5, candidate-blocked
    on the 32-char prefix (cheap blocking key: mutated near-dups in web
    corpora overwhelmingly share a prefix; swap for minhash_lsh when they
    don't). Both sides of the driver comparison compute the same thing, so
    this is the hash-checkable ground truth for the sketch tiers."""
    d = load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        F.substring("text", 1, 32).alias("blk"),
        word_bigrams(F.col("text")).alias("sh"),
    )
    a, b = docs.alias("a"), docs.alias("b")
    pairs = a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.doc_id") < F.col("b.doc_id")))
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
        .orderBy("doc_a", "doc_b")
    )


DEDUP_NGRAM_JACCARD_SQL = """
WITH docs AS (
  SELECT doc_id,
         SUBSTRING(text, 1, 32) AS blk,
         LIST_DISTINCT(LIST_TRANSFORM(
           GENERATE_SERIES(1, LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +')) - 1),
           i -> REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +')[i] || ' ' ||
                REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +')[i+1]
         )) AS sh
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         LEN(LIST_INTERSECT(a.sh, b.sh)) AS inter,
         LEN(a.sh) + LEN(b.sh) - LEN(LIST_INTERSECT(a.sh, b.sh)) AS uni
  FROM docs a JOIN docs b ON a.blk = b.blk AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, ROUND(CAST(inter AS DOUBLE) / uni, 6) AS jaccard
FROM pairs
WHERE CAST(inter AS DOUBLE) / uni >= 0.5
ORDER BY doc_a, doc_b
"""


# --- 2. MinHash + LSH ------------------------------------------------------

NUM_HASHES = 16
NUM_BANDS = 4  # 4 rows/band → s-curve threshold ≈ (1/4)^(1/4) ≈ 0.71
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS


def auto_band_params(n_docs: int) -> tuple[int, int]:
    """(bands, rows_per_band) sized to the corpus so band-bucket
    occupancy stays bounded as the corpus grows (round-9 10× probe:
    dedup_minhash 12.8× at FIXED sf0.1 params — candidate pairs grow
    with occupancy²). Each extra row per band divides the probability
    that a sub-threshold pair agrees on a full band; growing bands with
    rows keeps the s-curve threshold (1/b)^(1/r) ≈ 0.7 (0.71 at 4×4,
    0.72 at 5×5, 0.74 at 6×6 — the measured recall curve in SCALING.md
    is 1.000 for J>=0.5 at both 4×4 and 5×5). The default tiers are a
    corpus-stats-driven version of the previously-manual knob; callers
    can still pass explicit (bands, rows)."""
    if n_docs <= 20_000:
        return (4, 4)
    if n_docs <= 200_000:
        return (5, 5)
    if n_docs <= 2_000_000:
        return (6, 6)
    return (7, 7)


def _resolve_band_params(
    spark: SparkSession, sf_dir: str,
    bands: int | None, rows: int | None,
) -> tuple[int, int]:
    if bands is not None and rows is not None:
        return (bands, rows)
    got = literal_memo(
        os.path.join(sf_dir, "documents.parquet"),
        "band_params",
        lambda: auto_band_params(load_table(spark, sf_dir, "documents").count()),
    )
    return (bands or got[0], rows or got[1])


def _seeded_hash(seed: int):
    # closure factory: pyspark infers lambda arity, so a default-arg capture
    # (lambda s, i=i: ...) would be misread as the (element, index) form
    return lambda s: F.xxhash64(F.lit(seed), s)


def minhash_signature(shingles: Column, k: int = NUM_HASHES) -> Column:
    """K minhashes as an array<long>: min over xxhash64(seed_i, shingle).
    JVM-side, one pass over the shingle array per hash function."""
    return F.array(
        *[F.array_min(F.transform(shingles, _seeded_hash(i))) for i in range(k)]
    )


def minhash_bands(sig: Column, bands: int = NUM_BANDS, rows: int = ROWS_PER_BAND) -> Column:
    """Split the signature into band-hashes (array<long>). The (bands,
    rows) split sets the LSH s-curve threshold ≈ (1/bands)^(1/rows);
    scripts/minhash_curve.py records the measured recall/cost trade."""
    return F.array(
        *[
            F.xxhash64(*[sig[b * rows + r] for r in range(rows)])
            for b in range(bands)
        ]
    )


def minhash_candidates(
    docs: DataFrame, bands: int = NUM_BANDS, rows: int = ROWS_PER_BAND
) -> DataFrame:
    """docs(doc_id, sh) → candidate (doc_a, doc_b) id-pairs via band join.

    Explode band index+hash, self-join on (band, hash): only documents
    agreeing on one full band collide — the LSH s-curve. The join carries
    ONLY (doc_id, band, bh): shingle arrays never ride through the shuffle,
    and the banded table is cached so the self-join's two sides don't
    recompute signatures (at 100 TB this would be a materialized signature
    table in parquet — same plan, durable).
    """
    # materialize signatures BEFORE exploding bands: the Generate(posexplode)
    # node evaluates its child expression interpreted (outside codegen), so an
    # inlined 16-hash signature would be recomputed per emitted band row
    # (measured 7.1 s vs 0.4 s for the projection itself at 5k docs)
    sigs = docs.select(
        "doc_id", minhash_signature(F.col("sh"), k=bands * rows).alias("sig")
    ).persist()
    banded = sigs.select(
        "doc_id",
        F.posexplode(minhash_bands(F.col("sig"), bands=bands, rows=rows)).alias(
            "band", "bh"
        ),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_band_index(
    spark: SparkSession, sf_dir: str,
    bands: int | None = None, rows: int | None = None,
) -> DataFrame:
    """The at-rest LSH index: the banded (doc_id, band, bh) table written
    BUCKETED BY (band, bh), once per scale factor (same warehouse
    contract as the fulltext postings and the IVF index). The candidate
    self-join keys on exactly the bucket columns, so both sides arrive
    co-partitioned and the self-join runs WITHOUT any shuffle exchange —
    the number that matters when the signature table is corpus-sized.
    (Bucketing on bh alone is NOT enough: Spark's co-partition check
    requires ALL join keys in the bucket spec —
    requireAllClusterKeysForCoPartition.)

    Band parameters default to corpus-sized auto_band_params (the table
    name carries them, so a re-sized corpus builds a fresh index instead
    of silently reading one banded for a different scale)."""
    bands, rows = _resolve_band_params(spark, sf_dir, bands, rows)

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        docs = d.select("doc_id", word_bigrams(F.col("text")).alias("sh"))
        sigs = docs.select(
            "doc_id", minhash_signature(F.col("sh"), k=bands * rows).alias("sig")
        )
        return sigs.select(
            "doc_id",
            F.posexplode(
                minhash_bands(F.col("sig"), bands=bands, rows=rows)
            ).alias("band", "bh"),
        )

    return bucketed(
        spark, sf_dir, "documents", f"mh_bands_{sf_tag(sf_dir)}_{bands}x{rows}",
        build, ("band", "bh"), 32,
    )


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified with exact Jaccard >= 0.5.

    Sketch-dependent candidate set + exact verification: the verified
    output equals the ngram_jaccard ground truth wherever LSH recall hits,
    which tests/test_dedup.py asserts. Verification joins shingles back by
    id — candidate count << corpus, so the two verify joins are small.

    Candidates come from the PERSISTED bucketed band index (built once
    per sf): the banded self-join is exchange-free (bucket co-location,
    pinned by test_dedup), so the measured query is lookup + verify, not
    signature building."""
    d = load_table(spark, sf_dir, "documents")
    docs = d.select("doc_id", word_bigrams(F.col("text")).alias("sh")).persist()
    banded = minhash_band_index(spark, sf_dir)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sh_a = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    pairs = cand.join(sh_a, "doc_a").join(sh_b, "doc_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
        .orderBy("doc_a", "doc_b")
    )


# --- 3. SimHash ------------------------------------------------------------


def simhash_table(docs: DataFrame, id_col: str, shingles: Column) -> DataFrame:
    """(id, shingles) → (id, sim): 64-bit SimHash per row.

    Physical shape: explode shingles → xxhash64 once per shingle → hash-agg
    64 bit-vote sums per doc → assemble the word. One shuffle on the doc id;
    the per-bit votes are vectorized column sums, not per-doc array loops
    (64 nested array-aggregates blow up whole-stage codegen — measured 68 s
    for 500 docs vs ~2 s this way)."""
    hashed = docs.select(F.col(id_col), F.explode(shingles).alias("sh")).select(
        id_col, F.xxhash64("sh").alias("h")
    )
    votes = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    per_doc = hashed.groupBy(id_col).agg(*votes)
    sim = F.lit(0).cast("long")
    for b in range(64):
        weight = 2**b if b < 63 else -(2**63)
        sim = sim + F.when(F.col(f"b{b}") > 0, F.lit(weight).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return per_doc.select(id_col, sim.alias("sim"))


def simhash_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-rest SimHash band table (doc_id, sim, band, bh) bucketed by the
    candidate join keys (band, bh) — same warehouse contract as the
    MinHash band index: signatures and banding are paid once per scale
    factor, the candidate self-join runs bucket-co-located."""
    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        docs = simhash_table(
            d.select("doc_id", word_bigrams(F.col("text")).alias("sh")),
            "doc_id",
            F.col("sh"),
        )
        return docs.select(
            "doc_id",
            "sim",
            F.posexplode(
                F.array(
                    *[
                        F.shiftrightunsigned(F.col("sim"), 16 * b).bitwiseAND(
                            F.lit(0xFFFF)
                        )
                        for b in range(4)
                    ]
                )
            ).alias("band", "bh"),
        )

    return bucketed(
        spark, sf_dir, "documents", f"sh_bands_{sf_tag(sf_dir)}", build, ("band", "bh"), 32
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: band-bucketed (4×16-bit) candidates with
    Hamming distance <= 6 — any pair at Hamming<=3 shares a band for
    sure. Reads the persisted band index, so the measured cost is the
    co-located candidate join + Hamming verify, not signature building."""
    banded = simhash_band_index(spark, sf_dir)
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 6)
        .orderBy("doc_a", "doc_b")
    )


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash": dedup_minhash,  # sketch: rows-only driver check
    "dedup_simhash": dedup_simhash,  # sketch: rows-only driver check
}

ORACLE = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_JACCARD_SQL,
    # minhash/simhash intentionally have no SQL oracle: xxhash64 is
    # Spark-specific. tests/test_dedup.py verifies them against the exact
    # Jaccard ground truth instead.
}


# --- duplicate clusters: connected components over the near-dup pair graph --


def connected_components(edges: DataFrame, max_iters: int = 20) -> DataFrame:
    """(doc_a, doc_b) edge list → (doc_id, component) via iterative
    label propagation (hash-min): every node adopts the smallest id
    reachable in one hop; iterate to fixpoint.

    This is the standard large-scale dedup clustering step (pair output →
    groups → keep one representative per group). Each iteration is two
    shuffles on bounded-size frames (nodes + edges); iterations ≤
    graph diameter — near-dup clusters are small and dense, so it
    converges in a handful of rounds. Checkpointing via persist()
    truncates the lineage so plans don't grow with iterations.
    """
    # near-dup pair graphs are tiny relative to the corpus — pin a small
    # partition count so each iteration isn't 200 near-empty shuffle tasks
    # on a default-config session (12.4s -> ~5s at sf0.01)
    n_part = 16
    sym = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .repartition(n_part, "src")
        .persist()
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .repartition(n_part, "node")
        .persist()
    )
    for _ in range(max_iters):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("comp").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))).alias(
                    "comp"
                ),
            )
            .persist()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("node").alias("doc_id"), "comp")


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters from the exact-Jaccard pair graph: component id,
    size, and the kept representative (min doc_id). Iterative — no SQL
    oracle; tests/test_dedup.py checks against a driver-side union-find."""
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    comps = connected_components(pairs)
    return (
        comps.groupBy("comp")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("doc_id").alias("keeper"),
            F.max("doc_id").alias("max_member"),
        )
        .orderBy("comp")
    )


QUERIES["dedup_clusters"] = dedup_clusters  # iterative: rows-only driver check


# --- 5. Embedding-cosine near-dup ------------------------------------------


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup: top-20 most-similar vector pairs by
    cosine (the synthetic embeddings have no pairs above ~0.48, so a
    fixed threshold would select nothing and verify nothing — top-k keeps
    the check non-trivial at every scale factor).

    This is the exact O(n²) ORACLE tier — norms are precomputed once per
    side so the pair loop is a single fused dot product. The scale path
    is dedup_embedding_lsh: hyperplane-bucketed candidates, sum of
    bucket² pairs, identical re-rank."""
    from tiflash_spark.functions.vector import vec_inner_product
    from tiflash_spark.pipeline.similarity import _as_double

    e = load_table(spark, sf_dir, "embeddings")
    norms = e.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("emb"),
    ).withColumn("nrm", F.sqrt(vec_inner_product(F.col("emb"), F.col("emb"))))
    a = norms.select(
        F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"), F.col("nrm").alias("na")
    )
    b = norms.select(
        F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"), F.col("nrm").alias("nb")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(
                vec_inner_product(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_a", "vec_b")
        .limit(20)
    )


DEDUP_EMBEDDING_COSINE_SQL = """
WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         SQRT(LIST_SUM(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.emb, b.emb), p -> p[1] * p[2]))
             / (a.nrm * b.nrm), 6) AS cos_sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
ORDER BY cos_sim DESC, vec_a, vec_b
LIMIT 20
"""


EMB_LSH_TABLES = 4  # L independent hash tables: recall = 1-(1-p)^L
EMB_LSH_BITS = 6  # 6 hyperplane bits per table → 64 buckets each


def embedding_lsh_pairs(e: DataFrame, dim: int = 64) -> DataFrame:
    """Multi-table hyperplane LSH candidate pairs + exact cosine re-rank.

    One 24-plane signature per vector, sliced into EMB_LSH_TABLES 6-bit
    bucket keys; a pair is a candidate if it collides in ANY table (the
    standard OR-construction — single-table recall p becomes 1-(1-p)^L).
    The join carries only (table, bucket, vec_id, emb-by-reference); pair
    count is the sum of per-bucket² across tables, never n²."""
    from tiflash_spark.functions.vector import vec_inner_product
    from tiflash_spark.pipeline.similarity import _as_double, rp_signature

    n_planes = EMB_LSH_TABLES * EMB_LSH_BITS
    sig = rp_signature(F.col("embedding"), dim, n_planes=n_planes)
    base = e.select(
        "vec_id", _as_double(F.col("embedding")).alias("emb"), sig.alias("sig")
    ).withColumn("nrm", F.sqrt(vec_inner_product(F.col("emb"), F.col("emb"))))
    keys = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                F.shiftright("sig", t * EMB_LSH_BITS)
                .bitwiseAND(F.lit(2**EMB_LSH_BITS - 1))
                .alias("b"),
            )
            for t in range(EMB_LSH_TABLES)
        ]
    )
    bucketed = base.select(
        "vec_id", "emb", "nrm", F.explode(keys).alias("k")
    ).persist()
    a = bucketed.select(
        F.col("k").alias("ka"), F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("ea"), F.col("nrm").alias("na"),
    )
    b = bucketed.select(
        F.col("k").alias("kb"), F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("eb"), F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, (F.col("ka") == F.col("kb")) & (F.col("vec_a") < F.col("vec_b")))
        .select(
            "vec_a",
            "vec_b",
            F.round(
                vec_inner_product(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")),
                6,
            ).alias("cos_sim"),
        )
        .distinct()  # a pair may collide in several tables
    )


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str, dim: int = 64) -> DataFrame:
    """Scale tier of embedding near-dup: multi-table LSH candidates, top-20
    by exact cosine of the candidate set. tests/test_dedup.py measures
    recall on planted near-duplicates. Rows-only driver check
    (approximate by construction)."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        embedding_lsh_pairs(e, dim)
        .orderBy(F.col("cos_sim").desc(), "vec_a", "vec_b")
        .limit(20)
    )


QUERIES["dedup_embedding_cosine"] = dedup_embedding_cosine
QUERIES["dedup_embedding_lsh"] = dedup_embedding_lsh  # rows-only
ORACLE["dedup_embedding_cosine"] = DEDUP_EMBEDDING_COSINE_SQL


# --- incremental dedup (new batch vs historical corpus) ---------------------


def incremental_dedup(
    new_docs: DataFrame, history_fps: DataFrame, fp_col: str | None = None
) -> DataFrame:
    """Fold a NEW ingest batch against an already-deduped historical
    corpus: (1) in-batch exact dedup keeps min(doc_id) per fingerprint,
    (2) a left-anti join against the history fingerprint table drops docs
    the corpus already has. The anti join shuffles only (fp, doc_id)
    pairs — at 100 TB the history side is a bucketed fingerprint table
    and Spark's runtime bloom filter (session.py) prefilters the batch
    before the shuffle; the batch side is micro-batch-sized by
    construction.

    The in-batch keeper is a window min over fp (r11) — ONE exchange —
    instead of the groupBy(fp)+join-back, which paid the same fp shuffle
    for the aggregate AND a second join of the batch against it
    (row-identical: both keep exactly min(doc_id) per fp; the r10
    q2_min_cost_supplier lesson). ``fp_col`` names an existing
    fingerprint column when the caller already staged it (so the driver
    query's cached batch frame isn't re-fingerprinted)."""
    from pyspark.sql import Window

    if fp_col is None:
        w_batch = new_docs.select(
            "doc_id", "source", fingerprint(F.col("text")).alias("fp")
        )
    else:
        w_batch = new_docs.select("doc_id", "source", F.col(fp_col).alias("fp"))
    in_batch = (
        w_batch.withColumn(
            "_keep",
            F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("fp")),
        )
        .where(F.col("_keep"))
        .select("doc_id", "source", "fp")
    )
    return in_batch.join(history_fps, "fp", "left_anti")


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: docs with doc_id % 10 < 8 are the historical corpus,
    the rest the incoming batch; report per-source batch/kept/dropped
    counts. (The split is synthetic; the operator is the real surface.)"""
    d = load_table(spark, sf_dir, "documents")
    history = d.where(F.col("doc_id") % 10 < 8)
    batch = d.where(F.col("doc_id") % 10 >= 8)
    history_fps = history.select(
        fingerprint(F.col("text")).alias("fp")
    ).distinct()
    # staged narrow batch frame (doc_id, source, fp): fingerprints are
    # computed once and both the keeper window and the per-source batch
    # counts read the cache — one batch scan instead of two (measured
    # r11 with the operator's window keeper, 8 interleaved trials: 6.24 →
    # 5.41 s sum, winner 8/8; rows identical, oracle green). One
    # CacheManager entry per sf_dir, the accepted in-query pattern.
    w_batch = batch.select(
        "doc_id", "source", fingerprint(F.col("text")).alias("fp")
    ).persist()
    kept = incremental_dedup(w_batch, history_fps, fp_col="fp")
    batch_counts = w_batch.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_batch")
    )
    kept_counts = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept")
    )
    return (
        batch_counts.join(kept_counts, "source", "left")
        .select(
            "source",
            "n_batch",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("n_batch") - F.coalesce("n_kept", F.lit(0))).alias("n_dropped"),
        )
        .orderBy("source")
    )


DEDUP_INCREMENTAL_SQL = """
WITH fp_all AS (
  SELECT doc_id, source,
         MD5(REGEXP_REPLACE(LOWER(TRIM(text)), ' +', ' ', 'g')) AS fp,
         doc_id % 10 >= 8 AS is_batch
  FROM documents
),
history_fps AS (
  SELECT DISTINCT fp FROM fp_all WHERE NOT is_batch
),
in_batch AS (
  SELECT f.doc_id, f.source, f.fp
  FROM fp_all f
  JOIN (SELECT fp, MIN(doc_id) AS keep_id FROM fp_all
        WHERE is_batch GROUP BY fp) k
    ON f.fp = k.fp AND f.doc_id = k.keep_id
  WHERE f.is_batch
),
kept AS (
  SELECT b.source, CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM in_batch b
  WHERE NOT EXISTS (SELECT 1 FROM history_fps h WHERE h.fp = b.fp)
  GROUP BY b.source
),
batch_counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_batch
  FROM fp_all WHERE is_batch GROUP BY source
)
SELECT bc.source, bc.n_batch,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(bc.n_batch - COALESCE(k.n_kept, 0) AS BIGINT) AS n_dropped
FROM batch_counts bc LEFT JOIN kept k ON bc.source = k.source
ORDER BY bc.source
"""

QUERIES["dedup_incremental"] = dedup_incremental
ORACLE["dedup_incremental"] = DEDUP_INCREMENTAL_SQL


# --- 7. exact-substring span dedup (Lee et al. 2021) ------------------------
#
# "Deduplicating Training Data Makes Language Models Better" (Lee et al.,
# arXiv:2107.06499) ExactSubstr: verbatim token spans that occur more
# than once in the corpus are removed, not whole documents — the paper
# uses a corpus-level suffix array. Spark-first reformulation: a sliding
# K-token gram with its position is O(total tokens) rows; a gram
# occurring >1 time marks every position it covers; per-document covered
# spans are merged with a sort-free array fold. One window shuffle on the
# hashed gram key, one groupBy on doc_id — never a suffix array, never
# O(n²). (A groupBy(gh)+collect_list+explode-back alternative to the
# window was measured and loses: 1.9-2.3 s vs 1.7-2.1 s noop at sf0.1 —
# ObjectHashAggregate list-building costs more than the window's
# partition sort.)
#
# Semantics note (deliberate divergence, documented): the paper keeps ONE
# canonical occurrence of each duplicated span; with overlapping grams a
# keep-one rule needs byte-level suffix-array bookkeeping, so this
# operator implements the drop-ALL-occurrences variant — deterministic,
# SQL-expressible, and the variant most common in Spark-based curation
# stacks. The gram key is hashed (two-level xxhash64; collision odds
# ~n²/2⁶⁴ are acceptable for dedup and the exact-string oracle
# re-verifies the answer at every sf); at 100 TB the window count
# additionally becomes a groupBy + bloom-filter semi-join.

EXACT_SUBSTR_K = 8  # tokens per gram (paper uses 50; testdata docs are short)


def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source report of duplicated-substring removal: eligible docs,
    affected docs, gram positions, duplicated positions, tokens removed
    by merged spans, tokens kept."""
    from pyspark.sql import Window

    K = EXACT_SUBSTR_K
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.where(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", "source", tokens(F.col("text")).alias("w"))
        .where(F.size("w") >= K)
        .select("doc_id", "source", "w", F.size("w").cast("long").alias("n_tok"))
    )
    # gram leg carries ONLY (doc_id, pos, gram hash) — source/n_tok re-join
    # via toks at the end, so rider bytes never cross the gram shuffle.
    # Two-level hashing: each token is hashed ONCE into a staged long array
    # (`th` must be its own projection — inside the per-position lambda the
    # transform would re-run per position, measured 3.3-3.7 s vs 1.8 s),
    # then the gram key is xxhash64 over the 8-long slice. vs hashing the
    # concat_ws gram string: no per-position string allocation, each token
    # hashed once instead of K times, and the hash input is 64 fixed bytes.
    # Equality classes are identical (tokens are split on whitespace, so
    # they cannot contain ' ' and string-equality ⟺ array-equality);
    # collision odds stay ~n²/2⁶⁴ (oracle re-verifies at every sf).
    # Measured A/B (noop, 5 interleaved trials): 1.75-2.32 s string-hash →
    # 1.36-1.88 s staged token-hash, winner in all 5.
    staged = toks.select(
        "doc_id", F.expr("transform(w, t -> xxhash64(t))").alias("th")
    )
    grams = staged.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(th) - {K}),"
                f" i -> struct(CAST(i AS BIGINT) AS pos,"
                f" xxhash64(slice(th, i + 1, {K})) AS gh0))"
            )
        ).alias("g"),
    ).select(
        "doc_id",
        F.col("g.pos").alias("pos"),
        F.col("g.gh0").alias("gh"),
    )
    # one window shuffle on the HASHED gram key finds every duplicated
    # position in a single corpus pass. Hashing map-side (xxhash64 in the
    # projection above) means the exchange carries (doc_id, pos, gh) = 24
    # bytes/row instead of the ~8-token gram string (~50+ bytes), and the
    # window's partition sort compares longs, not strings — the §2.3
    # "shuffle keys instead of payloads" rule. Collision odds are
    # ~n_grams²/2⁶⁵ (≪1e-6 at any tested sf; the oracle re-verifies the
    # exact-string answer at every sf). A two-pass hash prefilter +
    # string-confirm join was also measured and loses (1.7-2.8 s vs
    # 1.5 s at sf0.1): it re-runs or caches the explode. The
    # per-partition sort is spillable, so a hot boilerplate gram degrades
    # to disk, never to OOM.
    dup_pos = grams.withColumn(
        "n_occ", F.count(F.lit(1)).over(Window.partitionBy("gh"))
    ).where(F.col("n_occ") > 1)
    per_doc = dup_pos.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_pos"),
        F.sort_array(F.collect_list("pos")).alias("ps"),
    ).select(
        "doc_id",
        "n_dup_pos",
        F.aggregate(
            "ps",
            F.struct(F.lit(0).cast("long").alias("cov"), F.lit(-1).cast("long").alias("fin")),
            lambda acc, p: F.struct(
                (
                    acc.cov
                    + F.greatest(F.lit(0).cast("long"), p + K - F.greatest(acc.fin, p))
                ).alias("cov"),
                F.greatest(acc.fin, p + K).alias("fin"),
            ),
            lambda acc: acc.cov,
        ).alias("removed"),
    )
    return (
        toks.select("doc_id", "source", "n_tok")
        .join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("n_dup_pos").isNotNull()).cast("int")).cast("long").alias("n_affected"),
            F.sum(F.col("n_tok") - K + 1).cast("long").alias("n_grams"),
            F.sum(F.coalesce("n_dup_pos", F.lit(0))).cast("long").alias("n_dup_positions"),
            F.sum(F.coalesce("removed", F.lit(0))).cast("long").alias("removed_tokens"),
            F.sum(F.col("n_tok") - F.coalesce("removed", F.lit(0))).cast("long").alias("kept_tokens"),
        )
        .orderBy("source")
    )


DEDUP_EXACT_SUBSTRING_SQL = """
WITH toks AS (
  SELECT doc_id, source, REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +') AS w
  FROM documents
  WHERE LENGTH(TRIM(text)) > 0
    AND LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), ' +')) >= 8
),
sized AS (
  SELECT doc_id, source, w, CAST(LEN(w) AS BIGINT) AS n_tok FROM toks
),
grams AS (
  SELECT doc_id, source, CAST(t.i AS BIGINT) AS pos,
         ARRAY_TO_STRING(w[CAST(t.i + 1 AS BIGINT):CAST(t.i + 8 AS BIGINT)], ' ') AS gram
  FROM sized, UNNEST(RANGE(0, LEN(w) - 7)) AS t(i)
),
dup_pos AS (
  SELECT doc_id, pos
  FROM (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gram) AS n_occ FROM grams)
  WHERE n_occ > 1
),
islands AS (
  SELECT doc_id, pos,
         CASE WHEN MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
               OR pos > MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM dup_pos
),
spans AS (
  SELECT doc_id, pos,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS UNBOUNDED PRECEDING) AS island_id
  FROM islands
),
per_doc AS (
  SELECT doc_id,
         CAST(SUM(n_pos) AS BIGINT) AS n_dup_pos,
         CAST(SUM(span_len) AS BIGINT) AS removed
  FROM (SELECT doc_id, island_id, MAX(pos) + 8 - MIN(pos) AS span_len,
               COUNT(*) AS n_pos
        FROM spans GROUP BY doc_id, island_id)
  GROUP BY doc_id
)
SELECT s.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_affected,
       CAST(SUM(s.n_tok - 7) AS BIGINT) AS n_grams,
       CAST(SUM(COALESCE(p.n_dup_pos, 0)) AS BIGINT) AS n_dup_positions,
       CAST(SUM(COALESCE(p.removed, 0)) AS BIGINT) AS removed_tokens,
       CAST(SUM(s.n_tok - COALESCE(p.removed, 0)) AS BIGINT) AS kept_tokens
FROM sized s LEFT JOIN per_doc p ON s.doc_id = p.doc_id
GROUP BY s.source
ORDER BY s.source
"""

QUERIES["dedup_exact_substring"] = dedup_exact_substring
ORACLE["dedup_exact_substring"] = DEDUP_EXACT_SUBSTRING_SQL


# --- 8. semantic dedup (SemDeDup, Abbas et al. 2023) ------------------------
#
# "SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication" (arXiv:2303.09540): k-means the embedding space, then
# compare pairs ONLY within a cluster — the cluster count grows with the
# corpus, so per-cluster pairwise work stays constant and the global
# cost is linear-ish, never O(n²). Spark-first: deterministic seed
# centroids (the first C vectors — oracle-reproducible, standing in for
# a k-means fit), zero-shuffle assignment (centroids folded into a
# codegen argmax expression, the IVF-centroid-broadcast treatment from
# similarity.py), then a within-cluster self-join on the cluster id.
# At 100 TB: C scales with n (SemDeDup uses ~100k clusters for LAION),
# the assignment stays a broadcast argmax, and the self-join shuffles on
# cluster_id with AQE skew splitting — the exact shape of
# dedup_embedding_lsh's bucket join.

SEMDEDUP_CLUSTERS = 8


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster semantic-dedup report: member count, mean cosine to
    the centroid, and the most-similar intra-cluster pair (the dedup
    candidate SemDeDup would drop at its threshold)."""
    from pyspark.sql import Window

    from tiflash_spark.functions.vector import vec_inner_product
    from tiflash_spark.pipeline.similarity import _as_double

    C = SEMDEDUP_CLUSTERS
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("emb")
    ).withColumn("nrm", F.sqrt(vec_inner_product(F.col("emb"), F.col("emb"))))
    # bounded driver-side collect (C rows), like IVF's n-probe centroids
    cents = sorted(
        (r.vec_id, r.emb, r.nrm) for r in e.filter(F.col("vec_id") < C).collect()
    )
    choices = F.array(
        *[
            F.struct(
                (
                    vec_inner_product(
                        F.col("emb"), F.array(*[F.lit(x) for x in cemb])
                    )
                    / (F.col("nrm") * F.lit(cnrm))
                ).alias("cos"),
                F.lit(-cid).alias("negc"),
            )
            for cid, cemb, cnrm in cents
        ]
    )
    # argmax cosine; ties resolve to the SMALLEST centroid id (negc max)
    best = F.array_max(choices)
    members = e.select(
        "vec_id",
        "emb",
        "nrm",
        (-best["negc"]).cast("long").alias("cluster_id"),
        F.round(best["cos"], 6).alias("cos_c"),
    )
    report = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.round(F.avg("cos_c"), 4).alias("avg_cos_centroid"),
    )
    a = members.select(
        F.col("cluster_id"), F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("ea"), F.col("nrm").alias("na"),
    )
    b = members.select(
        F.col("cluster_id"), F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("eb"), F.col("nrm").alias("nb"),
    )
    pairs = (
        a.join(b, "cluster_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "cluster_id", "vec_a", "vec_b",
            F.round(
                vec_inner_product(F.col("ea"), F.col("eb"))
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("top_cos"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("top_cos").desc(), "vec_a", "vec_b"
    )
    top = pairs.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")
    return (
        report.join(top, "cluster_id", "left")
        .select(
            "cluster_id", "n_members", "avg_cos_centroid",
            F.col("vec_a").alias("top_a"), F.col("vec_b").alias("top_b"),
            "top_cos",
        )
        .orderBy("cluster_id")
    )


DEDUP_SEMANTIC_SQL = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         SQRT(LIST_SUM(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
  FROM embeddings
),
cents AS (
  SELECT vec_id AS c_id, emb AS cemb, nrm AS cnrm FROM e WHERE vec_id < 8
),
assign AS (
  SELECT vec_id, emb, nrm, c_id,
         ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(emb, cemb), p -> p[1] * p[2]))
               / (nrm * cnrm), 6) AS cos_c,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY LIST_SUM(LIST_TRANSFORM(LIST_ZIP(emb, cemb), p -> p[1] * p[2]))
                    / (nrm * cnrm) DESC, c_id) AS rn
  FROM e CROSS JOIN cents
),
members AS (
  SELECT vec_id, emb, nrm, CAST(c_id AS BIGINT) AS cluster_id, cos_c
  FROM assign WHERE rn = 1
),
report AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
         ROUND(AVG(cos_c), 4) AS avg_cos_centroid
  FROM members GROUP BY cluster_id
),
pairs AS (
  SELECT a.cluster_id, a.vec_id AS vec_a, b.vec_id AS vec_b,
         ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.emb, b.emb), p -> p[1] * p[2]))
               / (a.nrm * b.nrm), 6) AS top_cos,
         ROW_NUMBER() OVER (
           PARTITION BY a.cluster_id
           ORDER BY LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.emb, b.emb), p -> p[1] * p[2]))
                    / (a.nrm * b.nrm) DESC, a.vec_id, b.vec_id) AS rn
  FROM members a JOIN members b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
)
SELECT r.cluster_id, r.n_members, r.avg_cos_centroid,
       p.vec_a AS top_a, p.vec_b AS top_b, p.top_cos
FROM report r LEFT JOIN (SELECT * FROM pairs WHERE rn = 1) p
  ON r.cluster_id = p.cluster_id
ORDER BY r.cluster_id
"""

QUERIES["dedup_semantic"] = dedup_semantic
ORACLE["dedup_semantic"] = DEDUP_SEMANTIC_SQL
