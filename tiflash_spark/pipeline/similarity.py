"""Similarity search over embedding columns (array<float>).

Two paths, mirroring the reference's vector story (SURVEY.md §4: HNSW
vector index in storage, brute-force distance otherwise):

- brute-force top-k: exact cosine against a query vector, planned as
  project → TakeOrderedAndProject. At 100 TB this is a full scan but a
  *single narrow stage*: no shuffle except the final k-row merge, so it
  parallelizes perfectly; it is the correctness oracle for ANN.
- LSH-bucketed ANN: multi-table random-hyperplane hashing (deterministic,
  hash-derived plane signs — no RNG state to ship), candidate union over
  the tables' bucket joins, exact re-rank of the deduped candidates.
  See lsh_buckets for the measured recall geometry and why IVF is the
  preferred top-k scale tier on this corpus.

All vector math is higher-order array expressions (functions/vector.py) —
JVM-side, no UDF serialization.
"""

from __future__ import annotations

import json as _json
import os as _os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiflash_spark.cache import literal_memo, sf_tag, sidecar, warehouse_path
from tiflash_spark.catalog import load_table
from tiflash_spark.functions.vector import (
    vec_cosine_similarity,
    vec_inner_product,
    vec_l2_distance,
    vec_l2_norm,
)

TOP_K = 10


def _fold_json_literal(value, sql_type: str) -> Column:
    """A (nested) list or map as ONE ``from_json(<json literal>, <type>)``:
    from_json over a foldable input constant-folds at plan time, so the
    executor plan carries the VALUE while the driver builds one string
    literal instead of thousands of nodes (the r10 PQ-LUT / quant-scales
    finding). The payload rides as a Column literal, never inside SQL
    text, so any map key (quotes, backslashes) round-trips. json.dumps
    round-trips IEEE doubles exactly; allow_nan=False makes degenerate
    inputs (NaN/Inf embeddings or scales — not valid JSON, from_json
    would silently NULL the whole value and every downstream score) fail
    loudly at build time instead."""
    return F.from_json(F.lit(_json.dumps(value, allow_nan=False)), sql_type)


def _as_double(a: Column) -> Column:
    return F.transform(a, lambda x: x.cast("double"))


def _query_vector(spark: SparkSession, sf_dir: str):
    """Deterministic query point: the embedding of vec_id = 0."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.filter(F.col("vec_id") == 0).select(
        _as_double(F.col("embedding")).alias("qv")
    )


def _query_literals(spark: SparkSession, sf_dir: str) -> tuple[list[float], float]:
    """The query row fetched ONCE driver-side — (vector values, L2 norm)
    — by one tiny pushed-filter job over the SAME expression trees the
    crossJoin form evaluated (vec_l2_norm over the double-cast embedding:
    bit-identity by construction, no arithmetic re-implemented in
    Python). Callers fold the vector back in as a from_json literal and
    the norm as F.lit — removing the per-build broadcast job and the
    BroadcastNestedLoopJoin the 1-row crossJoin planned (the r10
    quantized-ANN cure, applied to the IVF family in r11).

    literal_memo (r11): the fetch itself was still one job per query
    BUILD; the (vector, norm) pair is now memoized per embeddings
    parquet (mtime, size), so repeated builds skip the job entirely."""

    def fetch():
        e = load_table(spark, sf_dir, "embeddings")
        emb = _as_double(F.col("embedding"))
        qrow = (
            e.filter(F.col("vec_id") == 0)
            .select(emb.alias("qv"), vec_l2_norm(emb).alias("qn"))
            .first()
        )
        if qrow is None:
            raise ValueError(
                f"query vector vec_id=0 not found in embeddings at {sf_dir!r}"
            )
        return list(qrow.qv), float(qrow.qn)

    return literal_memo(
        _os.path.join(sf_dir, "embeddings.parquet"), "query_literals", fetch
    )


def _cos_prenorm(a: Column, b: Column, b_norm: Column) -> Column:
    """vec_cosine_similarity with the (constant) right-side norm
    pre-folded: same ops in the same order — sqrt(Σa²)·qn, dot/denom —
    so the per-row plan stops re-folding the query's 64-element norm."""
    denom = vec_l2_norm(a) * b_norm
    return F.when(
        F.size(a) == F.size(b),
        F.when(denom != 0, vec_inner_product(a, b) / denom),
    )


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k vs the vec_id=0 query (self excluded).

    Plan shape: broadcast 1-row query × scan → project(similarity) →
    TakeOrderedAndProject(k). One stage, no wide shuffle.
    """
    e = load_table(spark, sf_dir, "embeddings")
    # query row folded as literals (r11, memoized fetch): drops the
    # per-run broadcast-build job; _cos_prenorm keeps the arithmetic
    # operand-identical (oracle hash-checked)
    qv_list, qn = _query_literals(spark, sf_dir)
    qv = _fold_json_literal(qv_list, "array<double>")
    scored = (
        e.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "label",
            F.round(
                _cos_prenorm(_as_double(F.col("embedding")), qv, F.lit(qn)), 6
            ).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(TOP_K)


ANN_COSINE_TOPK_SQL = f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
)
SELECT vec_id, label,
       ROUND(LIST_COSINE_SIMILARITY(CAST(embedding AS DOUBLE[]), qv), 6) AS cos_sim
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id
LIMIT {TOP_K}
"""


def ann_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact L2 top-k (VecL2Distance semantics, reference
    dbms/src/Functions/FunctionsVector.cpp)."""
    e = load_table(spark, sf_dir, "embeddings")
    # query row folded as a literal (r11, memoized fetch): identical
    # arithmetic — only the broadcast of the 1-row frame is gone
    qv_list, _qn = _query_literals(spark, sf_dir)
    qv = _fold_json_literal(qv_list, "array<double>")
    scored = (
        e.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.round(vec_l2_distance(_as_double(F.col("embedding")), qv), 6).alias(
                "l2_dist"
            ),
        )
    )
    return scored.orderBy(F.col("l2_dist").asc(), F.col("vec_id")).limit(TOP_K)


ANN_L2_TOPK_SQL = f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
)
SELECT vec_id,
       ROUND(LIST_DISTANCE(CAST(embedding AS DOUBLE[]), qv), 6) AS l2_dist
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY l2_dist ASC, vec_id
LIMIT {TOP_K}
"""


# --- LSH-bucketed ANN (scale path) -----------------------------------------

NUM_PLANES = 12  # 12-bit signature → ~4096 buckets
PREFIX_BITS = 4   # bits per hash table → 16 buckets each, ~recall/cost knob
NUM_TABLES = 16   # OR over independent tables (recall lever; see lsh_buckets)


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: sign pattern from a splitmix-
    style integer hash of (plane, coordinate) — reproducible on any executor
    with no RNG state or broadcast weights."""
    out = []
    for d in range(dim):
        x = (plane * 1_000_003 + d) & 0xFFFFFFFFFFFFFFFF
        x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 & 0xFFFFFFFFFFFFFFFF
        x = (x ^ (x >> 27)) * 0x94D049BB133111EB & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 31
        out.append(1.0 if x & 1 else -1.0)
    return out


def rp_signature(emb: Column, dim: int, n_planes: int = NUM_PLANES) -> Column:
    """Random-projection bit signature as int: bit_i = <emb, h_i> >= 0."""
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(v) for v in _hyperplane(dim, p)])
        dot = vec_inner_product(_as_double(emb), plane)
        sig = sig + F.when(dot >= 0, F.lit(2**p).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def lsh_buckets(
    emb: Column, dim: int, n_tables: int = NUM_TABLES, bits: int = PREFIX_BITS
) -> Column:
    """Per-table bucket ids (array of n_tables longs): table t hashes the
    vector with its own ``bits`` hyperplanes (planes [t·bits, (t+1)·bits)).
    Classic multi-table random-projection LSH: a single b-bit table keeps
    a true neighbor with collision probability (1-θ/π)^b — a single 6-bit
    table measured recall@10 = 0.04 on the bench corpus, whose top-k
    neighbors sit at ~72° — while OR-ing L independent tables lifts it to
    1-(1-p^b)^L. The 16×4 default measures 0.88 recall@10 at an expected
    candidate fraction of 1-(1-2^-b)^L ≈ 0.64: on this geometry LSH needs
    most of the corpus to reach high recall, which is WHY the IVF tier
    (0.95 recall probing 1/16 of the files) is the preferred scale path
    for top-k, and LSH's sweet spot is the high-similarity regime (near-
    duplicate detection: p ≥ 0.9 collides at ~0.53/table, ~0.99 over 8
    tables). scripts/ann_recall_curve.py records the measured table in
    SCALING.md."""
    buckets = []
    for t in range(n_tables):
        b = F.lit(0).cast("long")
        for i in range(bits):
            plane = F.array(*[F.lit(v) for v in _hyperplane(dim, t * bits + i)])
            dot = vec_inner_product(_as_double(emb), plane)
            b = b + F.when(dot >= 0, F.lit(2**i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        buckets.append(b)
    return F.array(*buckets)


def ann_lsh_topk(spark: SparkSession, sf_dir: str, dim: int = 64) -> DataFrame:
    """Multi-table LSH approximate top-k: exact re-rank restricted to
    vectors sharing ANY of the query's NUM_TABLES bucket ids — the OR
    construction every production LSH store uses (candidate union across
    tables, deduped, then scored). tests/test_similarity.py pins recall
    vs ann_cosine_topk; scripts/ann_recall_curve.py measures the
    recall/latency curve against the other tiers."""
    e = load_table(spark, sf_dir, "embeddings")
    bks = lsh_buckets(F.col("embedding"), dim)
    tabbed = e.select(
        "vec_id", "label", "embedding", F.posexplode(bks).alias("t", "bucket")
    )
    q = tabbed.filter(F.col("vec_id") == 0).select(
        F.col("t").alias("qt"),
        F.col("bucket").alias("qbucket"),
        _as_double(F.col("embedding")).alias("qv"),
    )
    cands = (
        tabbed.filter(F.col("vec_id") != 0)
        .join(
            F.broadcast(q),
            (F.col("t") == F.col("qt")) & (F.col("bucket") == F.col("qbucket")),
        )
        .dropDuplicates(["vec_id"])  # a pair can collide in several tables
    )
    return (
        cands.select(
            "vec_id",
            "label",
            F.round(
                vec_cosine_similarity(_as_double(F.col("embedding")), F.col("qv")), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


def vector_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's vector scalar surface in one query: VecDims,
    VecL2Norm, VecL1/L2Distance, VecCosineDistance, Vec(Negative)InnerProduct
    (DAGUtils.cpp:719-727) against a fixed basis vector."""
    from tiflash_spark.functions.vector import (
        vec_dims,
        vec_l1_distance,
        vec_l2_norm,
    )

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    # query row folded as a literal (r11, memoized fetch): pure operand
    # substitution — every scoring expression is unchanged, so values are
    # bit-identical (oracle hash-checked)
    qv_list, _qn = _query_literals(spark, sf_dir)
    qv = _fold_json_literal(qv_list, "array<double>")
    emb = _as_double(F.col("embedding"))
    return e.select(
        "vec_id",
        vec_dims(F.col("embedding")).alias("dims"),
        F.round(vec_l2_norm(emb), 6).alias("l2_norm"),
        F.round(vec_l1_distance(emb, qv), 6).alias("l1_dist"),
        F.round(vec_l2_distance(emb, qv), 6).alias("l2_dist"),
        F.round(vec_inner_product(emb, qv), 6).alias("dot"),
        F.round(-vec_inner_product(emb, qv), 6).alias("neg_dot"),
        F.round(1 - vec_cosine_similarity(emb, qv), 6).alias("cos_dist"),
    )


VECTOR_FUNCTIONS_SQL = """
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
)
SELECT vec_id,
       LEN(embedding) AS dims,
       ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> x*x))), 6)
         AS l2_norm,
       ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(CAST(embedding AS DOUBLE[]), qv),
                                     p -> ABS(p[1] - p[2]))), 6) AS l1_dist,
       ROUND(LIST_DISTANCE(CAST(embedding AS DOUBLE[]), qv), 6) AS l2_dist,
       ROUND(LIST_INNER_PRODUCT(CAST(embedding AS DOUBLE[]), qv), 6) AS dot,
       ROUND(-LIST_INNER_PRODUCT(CAST(embedding AS DOUBLE[]), qv), 6) AS neg_dot,
       ROUND(1 - LIST_COSINE_SIMILARITY(CAST(embedding AS DOUBLE[]), qv), 6) AS cos_dist
FROM embeddings, q
WHERE vec_id < 100
"""


QUERIES = {
    "ann_cosine_topk": ann_cosine_topk,
    "ann_l2_topk": ann_l2_topk,
    "ann_lsh_topk": ann_lsh_topk,  # approximate: rows-only driver check
    "vector_functions": vector_functions,
}

ORACLE = {
    "ann_cosine_topk": ANN_COSINE_TOPK_SQL,
    "ann_l2_topk": ANN_L2_TOPK_SQL,
    "vector_functions": VECTOR_FUNCTIONS_SQL,
}


# --- IVF (inverted-file) ANN — the coarse-quantizer scale path --------------

N_CENTROIDS = 16
N_PROBE = 4


def _centroids(e: DataFrame) -> DataFrame:
    """Deterministic coarse quantizer: the embeddings of the N_CENTROIDS
    smallest vec_ids act as centroids (a k-means iteration would refine
    them; determinism matters more here than centroid quality, and the
    assignment/probe machinery is identical)."""
    return (
        e.orderBy("vec_id")
        .limit(N_CENTROIDS)
        .select(
            F.col("vec_id").alias("cid"),
            _as_double(F.col("embedding")).alias("cvec"),
        )
    )


def refine_centroids(e: DataFrame, cents: DataFrame, iterations: int = 2) -> DataFrame:
    """Deterministic Lloyd iterations over the seed centroids: assign every
    vector to its nearest centroid (min_by, map-side partial agg), then
    recompute each centroid as the element-wise mean of its members —
    posexplode to (cluster, dim, value), avg per (cluster, dim), re-pack
    with sorted collect. Fixed iteration count keeps it reproducible; a
    drained cluster keeps its previous centroid (classic k-means guard).

    Scale: per iteration one (vec_id) shuffle for the argmin and one
    (cluster, dim) shuffle whose cardinality is N_CENTROIDS×dims — tiny.
    The member side streams; nothing is collected to the driver."""
    for _ in range(iterations):
        assigned = _assign(e, cents)
        dims = assigned.select(
            "cluster", F.posexplode(_as_double(F.col("embedding"))).alias("pos", "x")
        )
        means = (
            dims.groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("m")))
                ).alias("pm")
            )
            .select(
                F.col("cluster").alias("new_cid"),
                F.transform(F.col("pm"), lambda s: s.m).alias("new_cvec"),
            )
        )
        cents = (
            cents.join(means, cents.cid == means.new_cid, "left")
            .select(
                "cid",
                F.coalesce(F.col("new_cvec"), F.col("cvec")).alias("cvec"),
            )
        )
    return cents


def _assign(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign every vector to its nearest centroid: broadcast the centroid
    table, argmin over L2 via min_by aggregation.

    min_by gets map-side partial aggregation — each task reduces its
    16×-exploded candidates locally before the (vec_id)-shuffle, and no
    sort is needed. The earlier window/row_number form shuffled and
    sorted all |e|×N_CENTROIDS rows. Ties break on smallest cid via the
    (dist, cid) struct ordering key."""
    scored = (
        e.select("vec_id", "label", "embedding")
        .crossJoin(F.broadcast(cents))
        .withColumn("dist", vec_l2_distance(_as_double(F.col("embedding")), F.col("cvec")))
    )
    best = scored.groupBy("vec_id").agg(
        F.min_by(
            F.struct(F.col("cid"), F.col("label"), F.col("embedding")),
            F.struct(F.col("dist"), F.col("cid")),
        ).alias("best")
    )
    return best.select(
        "vec_id",
        F.col("best.label").alias("label"),
        F.col("best.embedding").alias("embedding"),
        F.col("best.cid").alias("cluster"),
    )


def vector_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The at-rest IVF index pair: a centroid table and the full corpus
    re-written PARTITIONED BY its cluster assignment. Built at most once
    per scale factor — exactly the reference's VectorIndex contract
    (Storages/DeltaMerge/Index/VectorIndex: built at write/compaction
    time by LocalIndexWriter, read as a storage index, never per query).
    Partitioning by cluster means an n-probe query prunes non-probed
    clusters at FILE LISTING time (PartitionFilters in the scan), the
    distributed analogue of only opening the probed posting lists."""
    tag = sf_tag(sf_dir)
    e = load_table(spark, sf_dir, "embeddings")

    def write(cloc: str, aloc: str) -> None:
        cents = refine_centroids(e, _centroids(e), iterations=2)
        cents.coalesce(1).write.mode("overwrite").parquet(cloc)
        _assign(e, spark.read.parquet(cloc)).write.mode(
            "overwrite"
        ).partitionBy("cluster").parquet(aloc)

    got = sidecar(spark, sf_dir, "embeddings", write, f"ivf_cents_{tag}", f"ivf_assign_{tag}")
    if got is not None:
        return got
    # no local warehouse (remote URI session): build inline, same plan shape
    cents = refine_centroids(e, _centroids(e), iterations=2).persist()
    return cents, _assign(e, cents)


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: probe only the N_PROBE clusters nearest the query, exact
    re-rank inside them — reading the PERSISTED index, so the measured
    cost is the n-probe lookup (N_PROBE/N_CENTROIDS of the corpus at
    file-listing level), not the index build.
    tests/test_similarity.py measures recall vs brute force and pins the
    partition pruning.

    r11: the query row rides as folded literals (_query_literals) — the
    per-build chain was broadcast-build job + centroid-probe collect +
    a SECOND broadcast build for the scoring crossJoin (the anti-scaling
    driver work the r10 verdict flagged, 8c/32c ratio 0.56); now it is
    one pushed-filter first() + the 16-row probe collect, and the main
    query is a single pruned scan → project → TakeOrdered with the
    query norm pre-folded (no per-row re-fold of a constant)."""
    cents, assigned = vector_index(spark, sf_dir)
    qv_list, qn = _query_literals(spark, sf_dir)
    qv = _fold_json_literal(qv_list, "array<double>")
    # probe selection stays index navigation (which clusters to scan);
    # memoized like the query literals so repeated builds skip the
    # 16-row job (literal_memo keys on embeddings (mtime, size))
    probe_ids = literal_memo(
        _os.path.join(sf_dir, "embeddings.parquet"),
        "ivf_probe_ids",
        lambda: [
            r.cid
            for r in cents.withColumn(
                "qdist", vec_l2_distance(F.col("cvec"), qv)
            )
            .orderBy(F.col("qdist").asc(), F.col("cid").asc())
            .limit(N_PROBE)
            .select("cid")
            .collect()
        ],
    )
    cands = assigned.where(
        F.col("cluster").isin(probe_ids) & (F.col("vec_id") != 0)
    )
    return (
        cands.select(
            "vec_id",
            "label",
            F.round(
                _cos_prenorm(_as_double(F.col("embedding")), qv, F.lit(qn)), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


QUERIES["ann_ivf_topk"] = ann_ivf_topk  # approximate: rows-only driver check


# --- graph-navigated coarse quantizer (the HNSW-shaped tier) ----------------
#
# The reference ships an HNSW vector index (Storages/DeltaMerge/Index/
# VectorIndex/CommonUtil.h:41, usearch) that graph-searches WITHIN a
# segment. In a Spark-native design the per-row search is the exact
# re-rank inside probed clusters (columnar scan, whole-stage codegen) —
# the place a navigable graph genuinely helps at cluster scale is the
# COARSE step: with 10k-1M centroids at 100 TB, picking the n_probe
# nearest centroids brute-force costs O(C·d) per query on the driver; a
# greedy NSW walk over an M-neighbor centroid graph cuts that to
# O(M·d·path) probes. The graph is built once with the index (driver-
# sized: centroids only), persisted next to it, and fully deterministic.

GRAPH_M = 4  # neighbors per centroid in the NSW graph
# below this count a single bucket (exact all-pairs within one executor-
# side join) is cheaper than banding and reproduces the dense build
_EXACT_BUILD_MAX = 4096
_GRAPH_BANDS = 8  # LSH bands at C > _EXACT_BUILD_MAX
_GRAPH_BUCKET_TARGET = 256  # aimed-for centroids per band bucket


def build_centroid_graph(cent_rows: list[tuple[int, list[float]]],
                         m: int = GRAPH_M) -> dict[int, list[int]]:
    """Dense M-NN reference build (numpy, O(C²·d)) — kept ONLY as the
    small-C oracle that the distributed build is pinned against in
    tests/test_similarity.py; the production path is
    build_centroid_graph_df."""
    import numpy as np

    ids = [c for c, _ in cent_rows]
    x = np.asarray([v for _, v in cent_rows], dtype=float)
    d2 = ((x[:, None, :] - x[None, :, :]) ** 2).sum(-1)
    graph: dict[int, list[int]] = {}
    for i, cid in enumerate(ids):
        order = sorted(range(len(ids)), key=lambda j: (float(d2[i][j]), ids[j]))
        graph[cid] = [ids[j] for j in order if j != i][:m]
    return graph


def build_centroid_graph_df(spark: SparkSession, cents: DataFrame,
                            m: int = GRAPH_M) -> DataFrame:
    """Distributed M-NN graph over the centroid table (cid, cvec) —
    never the O(C²·d) driver matrix. At C ≤ _EXACT_BUILD_MAX one
    constant band makes the candidate join exact (identical edges to the
    dense build); above that, _GRAPH_BANDS sign-bit random-projection
    bands (deterministic seed) bound candidate pairs at ~bands·bucket·C
    — linear in C — and a cid-ring closure keeps the graph connected so
    the greedy walk can always escape its entry. Returns
    (cid int, neighbors array<int>), neighbors ordered by (L2, cid) with
    the ring successor appended last when not already among the m.

    Scale note (100 TB tier): the whole build is joins + window ranks on
    the centroid table only; at C = 1M, bucket 256, 8 bands it is ~2e9
    distance evaluations spread across executors, vs 1e12 (and a driver
    OOM) for the dense matrix."""
    from pyspark.sql import Window

    C = cents.count()  # bounded: centroid table
    first = cents.select("cvec").first()
    dim = len(first[0]) if first else 0
    if C <= 1 or dim == 0:
        return cents.select(
            F.col("cid").cast("int").alias("cid"),
            F.expr("cast(array() as array<int>)").alias("neighbors"),
        )

    a = cents.select(F.col("cid").alias("a_cid"), F.col("cvec").alias("a_vec"))
    b = cents.select(F.col("cid").alias("b_cid"), F.col("cvec").alias("b_vec"))

    if C <= _EXACT_BUILD_MAX:
        pairs = a.crossJoin(b)
    else:
        import random

        rnd = random.Random(0x5EED_C91D)
        bits = max(1, (C // _GRAPH_BUCKET_TARGET).bit_length())
        # deterministic hyperplanes: bands × bits × dim coefficients
        planes = [
            [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]
            for _ in range(_GRAPH_BANDS)
        ]

        def _sig(vec_col, band: int):
            # sign-bit signature of one band: packed int of hyperplane
            # sides. Each hyperplane rides as an ARRAY LITERAL consumed by
            # one aggregate(zip_with(...)) — a per-element multiply-add
            # expression chain (bits·d nodes) overflows Janino's 64 KB
            # method limit at d >= 64 and silently drops the whole stage
            # to interpreted evaluation; the higher-order form stays in
            # whole-stage codegen at any d (round-9 verdict ask #4)
            expr = F.lit(0)
            for j, plane in enumerate(planes[band]):
                dot = F.aggregate(
                    F.zip_with(
                        vec_col, F.lit(plane),
                        lambda x, w: x.cast("double") * w,
                    ),
                    F.lit(0.0), lambda acc, v: acc + v,
                )
                expr = expr + F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0))
            return expr

        a_b = a.select(
            "a_cid", "a_vec",
            F.explode(F.array(*[
                F.struct(F.lit(bd).alias("band"),
                         _sig(F.col("a_vec"), bd).alias("sig"))
                for bd in range(_GRAPH_BANDS)
            ])).alias("bk"),
        )
        b_b = b.select(
            "b_cid", "b_vec",
            F.explode(F.array(*[
                F.struct(F.lit(bd).alias("band"),
                         _sig(F.col("b_vec"), bd).alias("sig"))
                for bd in range(_GRAPH_BANDS)
            ])).alias("bk"),
        )
        pairs = a_b.join(b_b, a_b.bk == b_b.bk).drop("bk")

    pairs = pairs.where(F.col("a_cid") != F.col("b_cid"))
    d2 = F.aggregate(
        F.zip_with("a_vec", "b_vec",
                   lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0), lambda acc, v: acc + v,
    ).alias("d2")
    ranked = (
        pairs.select("a_cid", "b_cid", d2)
        .dropDuplicates(["a_cid", "b_cid"])  # multi-band dup candidates
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("a_cid").orderBy(
                    F.col("d2").asc(), F.col("b_cid").asc())
            ),
        )
        .where(F.col("rk") <= m)
    )
    knn = ranked.groupBy("a_cid").agg(
        F.expr("transform(sort_array(collect_list(struct(rk, b_cid))),"
               " x -> x.b_cid)").alias("nn")
    )
    # ring closure: every cid also links to its cid-order successor
    # (wrapping), guaranteeing reachability from the walk's entry point —
    # one centroid-table-sized window pass at build time
    ring = cents.select(
        F.col("cid").alias("a_cid"),
        F.lead("cid", 1).over(Window.orderBy("cid")).alias("succ"),
    )
    first_cid = cents.agg(F.min("cid")).collect()[0][0]
    ring = ring.withColumn(
        "succ", F.coalesce(F.col("succ"), F.lit(first_cid)))
    out = (
        cents.select(F.col("cid").alias("a_cid"))
        .join(knn, "a_cid", "left")
        .join(ring, "a_cid", "left")
        .select(
            F.col("a_cid").cast("int").alias("cid"),
            F.expr(
                "transform(array_distinct(concat("
                " coalesce(nn, array()),"
                " case when succ is not null and succ <> a_cid"
                "      then array(succ) else array()"
                " end)), x -> cast(x as int))"
            ).alias("neighbors"),
        )
    )
    return out


def graph_probe(graph: dict[int, list[int]],
                cent_vecs: dict[int, list[float]],
                qv: list[float], n_probe: int,
                ef: int | None = None) -> list[int]:
    """Greedy best-first NSW search with an exploration width ``ef``
    (HNSW's efSearch): keep the ef closest seen so far, expand the
    closest unexpanded one until the frontier cannot improve them, then
    return the top n_probe. ef > n_probe is what rescues greedy search
    from local minima; the default 2*n_probe+4 recovers the exact probe
    set on the test corpus (pinned). Deterministic: entry = smallest
    cid, ties on cid."""
    import heapq

    import numpy as np

    ef = ef if ef is not None else 2 * n_probe + 4
    q = np.asarray(qv, dtype=float)

    def dist(cid: int) -> float:
        return float(((np.asarray(cent_vecs[cid], dtype=float) - q) ** 2).sum())

    entry = min(cent_vecs)
    visited = {entry}
    d0 = dist(entry)
    cand = [(d0, entry)]
    best = [(-d0, entry)]
    while cand:
        d, c = heapq.heappop(cand)
        if len(best) >= ef and d > -best[0][0]:
            break
        for nb in graph.get(c, []):
            if nb in visited:
                continue
            visited.add(nb)
            dn = dist(nb)
            if len(best) < ef or dn < -best[0][0]:
                heapq.heappush(cand, (dn, nb))
                heapq.heappush(best, (-dn, nb))
                if len(best) > ef:
                    heapq.heappop(best)
    return sorted(
        (c for _, c in best), key=lambda c: (dist(c), c)
    )[:n_probe]


def centroid_graph(spark: SparkSession, sf_dir: str, cents: DataFrame) -> dict:
    """The persisted NSW graph sidecar (ivf_graph_{tag}) — built with the
    index by the DISTRIBUTED banded kNN join (build_centroid_graph_df),
    read as (cid, neighbors) rows, broadcast-sized by design. Like the IVF
    pair it derives from, it is a sidecar of ``embeddings``: an in-place
    rewrite of the corpus rebuilds it, and its rows are held per version
    of that source."""

    def rows(df: DataFrame) -> dict:
        return {int(r.cid): [int(n) for n in r.neighbors] for r in df.collect()}

    def write(gloc: str) -> None:
        build_centroid_graph_df(spark, cents).coalesce(1).write.mode(
            "overwrite"
        ).parquet(gloc)

    got = sidecar(spark, sf_dir, "embeddings", write, f"ivf_graph_{sf_tag(sf_dir)}")
    if got is None:
        # no local warehouse: build inline
        return rows(build_centroid_graph_df(spark, cents))
    return literal_memo(
        _os.path.join(sf_dir, "embeddings.parquet"), "ivf_graph", lambda: rows(got[0])
    )


def ann_ivf_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with graph-navigated probe selection: identical candidate
    generation and exact re-rank as ann_ivf_topk, but the n_probe
    centroids come from the NSW walk instead of scoring every centroid —
    the 100 TB coarse-step cost model. tests/test_similarity.py pins
    that the walk recovers the exact probe set on this corpus."""
    cents, assigned = vector_index(spark, sf_dir)
    qv_list, qn = _query_literals(spark, sf_dir)
    cent_vecs = literal_memo(
        _os.path.join(sf_dir, "embeddings.parquet"),
        "ivf_cent_vecs",
        lambda: {int(r.cid): list(r.cvec) for r in cents.collect()},
    )
    graph = centroid_graph(spark, sf_dir, cents)
    probe_ids = graph_probe(graph, cent_vecs, qv_list, N_PROBE)
    cands = assigned.where(
        F.col("cluster").isin(probe_ids) & (F.col("vec_id") != 0)
    )
    qv = _fold_json_literal(qv_list, "array<double>")
    return (
        cands.select(
            "vec_id",
            "label",
            F.round(
                _cos_prenorm(_as_double(F.col("embedding")), qv, F.lit(qn)), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


QUERIES["ann_ivf_graph_topk"] = ann_ivf_graph_topk  # rows-only (sketch tier)


# --- int8 scalar quantization (memory-scale path) ---------------------------
#
# Per-dimension affine int8 quantization of the embedding column: the
# standard 4× memory shrink that makes a 100 TB vector corpus fit its
# serving tier (the reference's vector index stores quantized vectors the
# same way). Everything is deterministic double arithmetic shared
# verbatim with the DuckDB oracle: scales from per-dim MIN/MAX (exact —
# no summation), codes via FLOOR (ROUND is half-even-vs-half-away
# engine-dependent), similarity on the dequantized vectors.

QUANT_DIM = 64
QUANT_LEVELS = 255


def _quant_scales(e: DataFrame) -> DataFrame:
    """One-row frame (mins: array, maxs: array) from 2·dim simple
    aggregates — map-side partial agg, no explode, no shuffle of vectors."""
    emb = F.col("embedding")
    return e.agg(
        F.array(*[
            F.min(emb[i].cast("double")) for i in range(QUANT_DIM)
        ]).alias("mins"),
        F.array(*[
            F.max(emb[i].cast("double")) for i in range(QUANT_DIM)
        ]).alias("maxs"),
    )


def _dequantized(emb: Column, mins: Column, maxs: Column) -> Column:
    """quantize-then-dequantize: code = clamp(floor((v-mn)·255/(mx-mn))),
    back to mn + code·(mx-mn)/255. transform() with index keeps it one
    codegen expression per row."""
    def deq(x: Column, i: Column) -> Column:
        mn = F.element_at(mins, i + 1)
        mx = F.element_at(maxs, i + 1)
        code = F.least(
            F.lit(float(QUANT_LEVELS)),
            F.greatest(
                F.lit(0.0),
                F.floor((x.cast("double") - mn) * QUANT_LEVELS / (mx - mn)),
            ),
        )
        return mn + code * (mx - mn) / QUANT_LEVELS

    return F.transform(emb, deq)


def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k over int8-dequantized vectors vs the vec_id=0 query,
    with the exact cosine alongside — the quantization-error report a
    vector-serving deployment signs off on. Plan: ONE narrow corpus scan;
    the scales AND the query row ride as folded literals (no broadcast
    join at all). The per-dim scales are index metadata — persisted once
    per sf beside the IVF index (the codebook lives with the index in
    any real vector store), so the query pays a 1-row read, not a
    corpus pass."""
    e = load_table(spark, sf_dir, "embeddings")
    got = sidecar(
        spark, sf_dir, "embeddings",
        lambda loc: _quant_scales(e).coalesce(1).write.mode("overwrite").parquet(loc),
        f"quant_scales_{sf_tag(sf_dir)}",
    )
    scales = _quant_scales(e) if got is None else got[0]
    # the 2·dim per-dim scales are fetched ONCE driver-side (a 1-row read
    # off the memoized parquet) and folded into the plan as two
    # from_json literals — removing the two BroadcastNestedLoopJoin
    # layers and one broadcast-build job the crossJoin(broadcast(scales))
    # form paid per run (measured, 5 interleaved collect trials: wins
    # 4/5, totals 8.29 s → 7.61 s; rows identical — json.dumps
    # round-trips the doubles exactly and the arithmetic is unchanged).
    # The dim-64 literal is ~1.5 kB — index metadata in the plan, exactly
    # like the PQ LUT.
    _emb_path = _os.path.join(sf_dir, "embeddings.parquet")

    def _fetch_scales():
        srow = scales.first()
        if srow is None or srow.mins is None or srow.maxs is None:
            raise ValueError(
                f"quantization scales unavailable for {sf_dir!r} (empty embeddings?)"
            )
        return list(srow.mins), list(srow.maxs)

    # literal_memo (r11): the 1-row fetches below still cost one tiny job
    # per query BUILD each; both rows derive from embeddings.parquet, so
    # they memo on its (mtime, size) like every other sidecar.
    s_mins, s_maxs = literal_memo(_emb_path, "quant_scales_row", _fetch_scales)
    mins = _fold_json_literal(s_mins, "array<double>")
    maxs = _fold_json_literal(s_maxs, "array<double>")
    # the query ROW folds the same way (r10 session 4): its dequantized /
    # exact arrays and their L2 norms are computed by ONE tiny Spark job
    # over the SAME expression trees (bit-identity by construction — no
    # arithmetic is re-implemented driver-side), then ride as literals.
    # This removes the remaining BroadcastNestedLoopJoin, the second
    # embeddings scan AND the per-row re-fold of the query's norm inside
    # vec_cosine_similarity (a 64-element aggregate per row per cosine
    # whose value is constant). Measured (6 interleaved collect trials):
    # min 0.974 → 0.847 s, sum 6.76 → 6.09 s, winner in 5/6; rows
    # identical and oracle-green (this query is oracle-checked).
    def _fetch_qrow():
        qrow = (
            e.filter(F.col("vec_id") == 0)
            .select(
                _dequantized(F.col("embedding"), mins, maxs).alias("qv_q"),
                _as_double(F.col("embedding")).alias("qv"),
            )
            .select(
                "qv_q",
                "qv",
                vec_l2_norm(F.col("qv_q")).alias("qn_q"),
                vec_l2_norm(F.col("qv")).alias("qn"),
            )
            .first()
        )
        if qrow is None:
            raise ValueError(
                f"query vector vec_id=0 not found in embeddings at {sf_dir!r}"
            )
        return list(qrow.qv_q), list(qrow.qv), float(qrow.qn_q), float(qrow.qn)

    l_qv_q, l_qv, qn_q, qn = literal_memo(_emb_path, "quant_qrow", _fetch_qrow)
    qv_q = _fold_json_literal(l_qv_q, "array<double>")
    qv = _fold_json_literal(l_qv, "array<double>")

    # scoring via the module-level _cos_prenorm (vec_cosine_similarity
    # with the constant right-side norm pre-folded, same ops same order)
    scored = e.filter(F.col("vec_id") != 0).select(
        "vec_id",
        "label",
        F.round(
            _cos_prenorm(
                _dequantized(F.col("embedding"), mins, maxs),
                qv_q,
                F.lit(qn_q),
            ),
            6,
        ).alias("cos_sim_q"),
        F.round(
            _cos_prenorm(_as_double(F.col("embedding")), qv, F.lit(qn)), 6
        ).alias("cos_sim_exact"),
    )
    return scored.orderBy(F.col("cos_sim_q").desc(), F.col("vec_id")).limit(TOP_K)


# --- filtered ANN (predicate + vector top-k) --------------------------------
#
# The reference's vector index accepts a pushed-down predicate: the ANN
# search runs only over rows surviving the filter bitmap
# (dbms/src/Storages/DeltaMerge/Filter/PushDownExecutor.h:48 ann_query_info;
# the MVCC/filter bitmap is applied to the index scan). Two strategies, as
# in any production vector store:
#   pre-filter  — evaluate the predicate first, exact-score the survivors.
#     Correct for any selectivity; at 100 TB it is one narrow filtered scan
#     (predicate and column pruning reach parquet) + TakeOrderedAndProject.
#   post-filter — probe the ANN index, then apply the predicate to the
#     candidates with an over-fetch factor. Cheaper when the predicate is
#     weak; can under-fill k when it is strong — so the exact pre-filter
#     path below is the driver-checked tier, the IVF post-filter variant is
#     the rows-only scale tier.

FILTER_LABEL = 1


def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pre-filter ANN: cosine top-k vs the vec_id=0 query among rows
    with label = FILTER_LABEL and an odd vec_id — the predicate is pushed
    into the scan (PushedFilters), then one narrow score+TopN stage."""
    e = load_table(spark, sf_dir, "embeddings")
    # query row folded as literals (r11, memoized fetch; _cos_prenorm is
    # operand-identical, oracle hash-checked)
    qv_list, qn = _query_literals(spark, sf_dir)
    qv = _fold_json_literal(qv_list, "array<double>")
    scored = (
        e.filter(
            (F.col("vec_id") != 0)
            & (F.col("label") == FILTER_LABEL)
            & (F.col("vec_id") % 2 == 1)
        )
        .select(
            "vec_id",
            "label",
            F.round(
                _cos_prenorm(_as_double(F.col("embedding")), qv, F.lit(qn)), 6
            ).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(TOP_K)


ANN_FILTERED_TOPK_SQL = f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
)
SELECT vec_id, label,
       ROUND(LIST_COSINE_SIMILARITY(CAST(embedding AS DOUBLE[]), qv), 6) AS cos_sim
FROM embeddings, q
WHERE vec_id <> 0 AND label = {FILTER_LABEL} AND vec_id % 2 = 1
ORDER BY cos_sim DESC, vec_id
LIMIT {TOP_K}
"""

QUERIES["ann_filtered_topk"] = ann_filtered_topk
ORACLE["ann_filtered_topk"] = ANN_FILTERED_TOPK_SQL

OVERFETCH = 4


def ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-filter IVF ANN: probe the persisted index's nearest N_PROBE
    clusters with k·OVERFETCH candidates, then apply the predicate —
    the strategy a vector store picks when the predicate is weak enough
    that over-fetching beats a full filtered scan. Approximate (probing
    misses clusters), so rows-only in the driver gate; recall vs the exact
    pre-filter tier is measured in tests/test_similarity.py."""
    cents, assigned = vector_index(spark, sf_dir)
    qv_list, qn = _query_literals(spark, sf_dir)
    qv = _fold_json_literal(qv_list, "array<double>")
    # probe selection stays index navigation (which clusters to scan);
    # memoized like the query literals so repeated builds skip the
    # 16-row job (literal_memo keys on embeddings (mtime, size))
    probe_ids = literal_memo(
        _os.path.join(sf_dir, "embeddings.parquet"),
        "ivf_probe_ids",
        lambda: [
            r.cid
            for r in cents.withColumn(
                "qdist", vec_l2_distance(F.col("cvec"), qv)
            )
            .orderBy(F.col("qdist").asc(), F.col("cid").asc())
            .limit(N_PROBE)
            .select("cid")
            .collect()
        ],
    )
    cands = (
        assigned.where(F.col("cluster").isin(probe_ids) & (F.col("vec_id") != 0))
        .select(
            "vec_id",
            "label",
            F.round(
                _cos_prenorm(_as_double(F.col("embedding")), qv, F.lit(qn)), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOP_K * OVERFETCH)
    )
    return (
        cands.filter((F.col("label") == FILTER_LABEL) & (F.col("vec_id") % 2 == 1))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


QUERIES["ann_ivf_filtered"] = ann_ivf_filtered  # approximate: rows-only driver check


# --- hybrid retrieval: BM25 + vector, reciprocal-rank fusion ----------------
#
# Beyond the reference (which ships full-text and vector indexes separately);
# fusing them is what an LLM-retrieval corpus actually runs. Both candidate
# lists are top-N results (N rows each), so the fusion join is trivially
# broadcastable at any corpus size — the expensive parts are the two index
# lookups, each already verified scale-shaped on its own.

RRF_K = 60
N_CAND = 50


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of BM25 keyword search (persisted inverted
    index) and cosine ANN (doc_id ≡ vec_id in the testdata):
    rrf(d) = Σ_lists 1/(RRF_K + rank_d). Deterministic: both ranks order by
    (rounded score desc, doc_id)."""
    from pyspark.sql import Window

    from tiflash_spark.pipeline.fulltext import (
        SEARCH_TERMS,
        bm25_search,
        corpus_stats,
        index_tables,
    )

    postings, doclen = index_tables(spark, sf_dir)
    bm = bm25_search(
        postings, doclen, SEARCH_TERMS, k=N_CAND,
        stats=corpus_stats(spark, sf_dir, doclen),
    ).select("doc_id", "bm25")
    bm_r = bm.withColumn(
        "bm25_rank",
        F.row_number().over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))),
    ).select("doc_id", "bm25_rank")

    e = load_table(spark, sf_dir, "embeddings")
    # query row folded as literals (r11): the crossJoin(broadcast(q))
    # form paid a broadcast-build job per RUN; with _query_literals
    # memoized the fetch is free, and _cos_prenorm keeps the arithmetic
    # operand-identical (norm(a) · qn where qn came from the same
    # engine-side vec_l2_norm) — the r10 "wash" rejection predated the
    # memo, re-measured a winner now
    qv_list, qn = _query_literals(spark, sf_dir)
    qv = _fold_json_literal(qv_list, "array<double>")
    vec = (
        e.filter(F.col("vec_id") != 0)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                _cos_prenorm(_as_double(F.col("embedding")), qv, F.lit(qn)), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("doc_id"))
        .limit(N_CAND)
    )
    vec_r = vec.withColumn(
        "vec_rank",
        F.row_number().over(Window.orderBy(F.col("cos_sim").desc(), F.col("doc_id"))),
    ).select("doc_id", "vec_rank")

    # fuse via union + pivot aggregate instead of a FULL OUTER join:
    # doc_id is unique within each rank list (bm25 is a per-doc_id agg,
    # vec_id is the embeddings key), so grouping the union by doc_id and
    # picking each side's rank with MAX(CASE …) is row-identical to the
    # full outer join — and full outer cannot broadcast (Spark plans a
    # SortMergeJoin: 2 exchanges + sorts over two ≤N_CAND-row inputs),
    # while this is one tiny hash-agg exchange.
    u = bm_r.select(
        "doc_id", F.col("bm25_rank").alias("_r"), F.lit(0).alias("_s")
    ).unionByName(
        vec_r.select("doc_id", F.col("vec_rank").alias("_r"), F.lit(1).alias("_s"))
    )
    fused = (
        u.groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("_s") == 0, F.col("_r"))).alias("bm25_rank"),
            F.max(F.when(F.col("_s") == 1, F.col("_r"))).alias("vec_rank"),
        )
        .select(
            "doc_id",
            "bm25_rank",
            "vec_rank",
            F.round(
                F.coalesce(1.0 / (F.lit(RRF_K) + F.col("bm25_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("vec_rank")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id")).limit(TOP_K)


_TERMS_SQL = ", ".join(f"'{t}'" for t in ["spark", "window", "hash"])

HYBRID_SEARCH_RRF_SQL = f"""
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
  FROM postings WHERE term IN ({_TERMS_SQL})
  GROUP BY term
),
scored AS (
  SELECT p.doc_id,
         ROUND(SUM(
           LN(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (p.tf * 2.2) / (p.tf + 1.2 * (0.25 + 0.75 * l.dl / c.avgdl))
         ), 4) AS bm25
  FROM postings p
  JOIN dft d ON p.term = d.term
  JOIN doclen l ON p.doc_id = l.doc_id
  CROSS JOIN corpus c
  GROUP BY p.doc_id
),
bm_r AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rank
  FROM scored
  QUALIFY bm25_rank <= {N_CAND}
),
vec AS (
  SELECT e.vec_id AS doc_id,
         ROUND(LIST_COSINE_SIMILARITY(CAST(e.embedding AS DOUBLE[]),
                                      CAST(q.embedding AS DOUBLE[])), 6) AS cos_sim
  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
  WHERE e.vec_id <> 0
),
vec_r AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS vec_rank
  FROM vec
  QUALIFY vec_rank <= {N_CAND}
)
SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id,
       b.bm25_rank, v.vec_rank,
       ROUND(COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + b.bm25_rank), 0.0)
             + COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + v.vec_rank), 0.0), 6) AS rrf
FROM bm_r b FULL JOIN vec_r v ON b.doc_id = v.doc_id
ORDER BY rrf DESC, doc_id
LIMIT {TOP_K}
"""

QUERIES["hybrid_search_rrf"] = hybrid_search_rrf
ORACLE["hybrid_search_rrf"] = HYBRID_SEARCH_RRF_SQL


_MINS_SQL = ", ".join(f"MIN(CAST(embedding[{i+1}] AS DOUBLE))" for i in range(QUANT_DIM))
_MAXS_SQL = ", ".join(f"MAX(CAST(embedding[{i+1}] AS DOUBLE))" for i in range(QUANT_DIM))

ANN_QUANTIZED_TOPK_SQL = f"""
WITH scales AS (
  SELECT [{_MINS_SQL}] AS mins, [{_MAXS_SQL}] AS maxs
  FROM embeddings
),
deq AS (
  SELECT e.vec_id, e.label,
         LIST_TRANSFORM(RANGE(1, {QUANT_DIM + 1}), i ->
           s.mins[i] + LEAST({QUANT_LEVELS}.0, GREATEST(0.0,
             FLOOR((CAST(e.embedding[i] AS DOUBLE) - s.mins[i]) * {QUANT_LEVELS}
                   / (s.maxs[i] - s.mins[i]))))
           * (s.maxs[i] - s.mins[i]) / {QUANT_LEVELS}) AS emb_q,
         CAST(e.embedding AS DOUBLE[]) AS emb
  FROM embeddings e CROSS JOIN scales s
),
q AS (
  SELECT emb_q AS qv_q, emb AS qv FROM deq WHERE vec_id = 0
)
SELECT d.vec_id, d.label,
       ROUND(LIST_COSINE_SIMILARITY(d.emb_q, q.qv_q), 6) AS cos_sim_q,
       ROUND(LIST_COSINE_SIMILARITY(d.emb, q.qv), 6) AS cos_sim_exact
FROM deq d, q
WHERE d.vec_id <> 0
ORDER BY cos_sim_q DESC, d.vec_id
LIMIT {TOP_K}
"""

QUERIES["ann_quantized_topk"] = ann_quantized_topk
ORACLE["ann_quantized_topk"] = ANN_QUANTIZED_TOPK_SQL


# --- product quantization (PQ + ADC, the 32x memory path) --------------------
#
# Completes the vector-index tier ladder (brute / LSH / IVF / int8-SQ):
# PQ splits each vector into PQ_M subspaces, replaces every subvector
# with a 4-bit codebook id, and scores with Asymmetric Distance
# Computation — a per-query lookup table of (subspace x centroid) inner
# products, so scanning codes costs PQ_M table lookups per vector and
# the corpus at rest is PQ_M bytes per vector (32x under float32 at dim 64).
# Reference analogue: the vector index's quantized storage options
# (Storages/DeltaMerge/Index/VectorIndex — usearch quantization tiers).
#
# Spark-first: the codebooks are trained ONCE driver-side on a bounded
# deterministic sample (numpy Lloyd iterations, k-means++-free first-K
# init so there is no RNG), codes are encoded in one Arrow-batched
# mapInPandas pass and PERSISTED like the IVF index, and the ADC scan
# itself is pure codegen — the lookup table rides as a literal 2-D
# array and `aggregate(sequence, ...)` sums the PQ_M lookups, so the
# hot path never leaves the JVM.

PQ_M = 8            # subspaces (dim 64 -> 8 dims each)
PQ_K = 256          # 8-bit codebooks (the standard PQ byte code)
PQ_SAMPLE = 2048    # training sample (driver-side, bounded)
PQ_ITERS = 8        # Lloyd iterations, fixed
PQ_OVERFETCH = 8    # ADC candidates = TOP_K * PQ_OVERFETCH, exact re-rank
# parameter sweep at sf0.1 (recall@10 vs brute force, overfetch 8):
# (M=8,K=16) 0.40 — 4-bit codes too coarse at dim 64; (M=16,K=16) 0.80;
# (M=8,K=256) 1.00 at 8 bytes/vector = 32x under float32. 8-bit wins.


def _pq_train(spark: SparkSession, sf_dir: str):
    """Deterministic codebooks: numpy Lloyd on the first PQ_SAMPLE
    vectors by vec_id, L2-normalized (so ADC inner products ARE cosine
    contributions); init = first PQ_K sample subvectors."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings")
    rows = (
        e.orderBy("vec_id")
        .limit(PQ_SAMPLE)
        .select(_as_double(F.col("embedding")).alias("v"))
        .collect()
    )
    x = np.array([r.v for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    dim = x.shape[1]
    dsub = dim // PQ_M
    books = []
    for m in range(PQ_M):
        sub = x[:, m * dsub:(m + 1) * dsub]
        cents = sub[:PQ_K].copy()
        for _ in range(PQ_ITERS):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for k in range(PQ_K):
                pts = sub[assign == k]
                if len(pts):
                    cents[k] = pts.mean(axis=0)
        books.append(cents)
    return books  # list of (PQ_K, dsub) arrays


def pq_index(spark: SparkSession, sf_dir: str):
    """(codebooks, codes DataFrame) with the codes PERSISTED at rest —
    (vec_id, label, codes array<int> of PQ_M 4-bit ids). One
    mapInPandas encode pass at build time, then every query reads the
    tiny code table (PQ_M ints per vector) instead of the embeddings."""
    import json
    import os

    import numpy as np
    import pandas as pd

    def build(books):
        def encode(batches):
            dsub = books[0].shape[1]
            for pdf in batches:
                v = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
                codes = np.empty((len(v), PQ_M), dtype=np.int32)
                for m in range(PQ_M):
                    sub = v[:, m * dsub:(m + 1) * dsub]
                    d2 = ((sub[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
                    codes[:, m] = d2.argmin(axis=1)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "label": pdf["label"],
                        "codes": list(codes.tolist()),
                    }
                )

        e = load_table(spark, sf_dir, "embeddings")
        return e.mapInPandas(
            encode, schema="vec_id long, label int, codes array<int>"
        )

    # the codebooks are written beside the code table and retrained with
    # it, so a corpus rewritten in place never scores against stale books;
    # a query session pays one small JSON read, never a retrain
    bloc = os.path.join(warehouse_path(spark) or "", f"pq_books_{sf_tag(sf_dir)}.json")

    def write(cloc: str) -> None:
        books = _pq_train(spark, sf_dir)
        build(books).write.mode("overwrite").parquet(cloc)
        with open(bloc + ".tmp", "w") as fh:
            json.dump([b.tolist() for b in books], fh)
        os.replace(bloc + ".tmp", bloc)

    got = sidecar(spark, sf_dir, "embeddings", write, f"pq_codes_{sf_tag(sf_dir)}")
    if got is None:
        books = _pq_train(spark, sf_dir)
        return books, build(books)
    with open(bloc) as fh:
        return [np.array(b) for b in json.load(fh)], got[0]


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC ANN: codegen lookup-table scan over the persisted code
    table picks TOP_K * PQ_OVERFETCH candidates, an exact cosine re-rank
    over just those rows returns TOP_K. Approximate (rows-only driver
    check); recall vs brute force pinned in tests/test_similarity.py."""
    import numpy as np

    books, codes = pq_index(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    # the raw query vector is the same literal _query_literals memoizes —
    # reuse it instead of a per-build pushed-filter first() job
    qv_list, _ = _query_literals(spark, sf_dir)
    q = np.array(qv_list, dtype=np.float64)
    q /= max(float(np.linalg.norm(q)), 1e-12)
    dsub = len(q) // PQ_M
    # per-subspace inner-product table: lut[m][k] = <q_m, c_mk>
    lut = [
        [
            float(np.dot(q[m * dsub:(m + 1) * dsub], books[m][k]))
            for k in range(PQ_K)
        ]
        for m in range(PQ_M)
    ]
    # the LUT rides as ONE from_json literal (_fold_json_literal), not a
    # nested array(...) literal tree: parsing + analyzing 2048 Literal
    # nodes cost ~0.4 s of DRIVER time per query build (measured: build
    # 0.50-0.77 s → 0.35-0.43 s, identical rows). It constant-folds to the
    # same array value once at plan time, so the executor-side plan is
    # unchanged. (A broadcast one-row LUT table was also measured and
    # loses: the BroadcastNestedLoopJoin costs more at exec than the
    # literal saves at build.)
    lut_c = _fold_json_literal(lut, "array<array<double>>")
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        F.lit(0.0),
        lambda acc, m: acc + F.element_at(F.element_at(lut_c, m + 1), F.col("codes")[m] + 1),
    )
    cands = (
        codes.filter(F.col("vec_id") != 0)
        .select("vec_id", "label", adc.alias("adc"))
        .orderBy(F.col("adc").desc(), F.col("vec_id"))
        .limit(TOP_K * PQ_OVERFETCH)
    )
    return (
        cands.join(e.select("vec_id", "embedding"), "vec_id")
        .select(
            "vec_id",
            "label",
            F.round(
                vec_cosine_similarity(
                    _as_double(F.col("embedding")),
                    _fold_json_literal(qv_list, "array<double>"),
                ),
                6,
            ).alias("cos_sim"),
            F.round(F.col("adc"), 6).alias("adc_score"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


QUERIES["ann_pq_topk"] = ann_pq_topk  # approximate: rows-only driver check
