"""At-rest sidecar staleness (round-11): every persisted index/fixture
derived from a source table is keyed to the source's (mtime, size) stamp
— a corpus rewritten IN PLACE at the same sf_dir must rebuild the
sidecar instead of serving stale rows (existence-only checks did not)."""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import Row


def _write_docs(spark, sf_dir: str, texts: list[str]) -> None:
    rows = [
        Row(doc_id=i, text=t, lang="en", source="s0", n_chars=len(t))
        for i, t in enumerate(texts)
    ]
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    # parquet mtime has ns resolution but equal sizes + a fast rewrite can
    # collide on coarse filesystems; nudge mtime to make the stamp move
    p = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    spark.catalog.refreshByPath(p)


def _write_embeddings(spark, sf_dir: str, scale: float, n: int = 8) -> None:
    rows = [
        Row(vec_id=i, embedding=[float(i + d) * scale for d in range(64)], label=i % 2)
        for i in range(n)
    ]
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    )
    p = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    spark.catalog.refreshByPath(p)


def test_ft_index_and_stats_rebuild_on_source_rewrite(spark, tmp_path):
    from tiflash_spark.pipeline.fulltext import corpus_stats, index_tables

    sf_dir = str(tmp_path / "sf_stale_ft")
    os.makedirs(sf_dir)
    _write_docs(spark, sf_dir, ["alpha beta", "alpha gamma"])
    postings = index_tables(spark, sf_dir)
    assert postings.count() == 4  # alpha x2, beta, gamma
    assert corpus_stats(spark, sf_dir) == (2.0, 2.0)

    time.sleep(0.01)
    _write_docs(spark, sf_dir, ["alpha beta", "alpha gamma", "delta delta epsilon"])
    postings = index_tables(spark, sf_dir)
    # stale index would still show 4 posting rows / 2 docs
    assert postings.count() == 6
    assert corpus_stats(spark, sf_dir) == (3.0, 7 / 3)


def test_ft_index_rebuilds_files_bucketed_another_way(spark, tmp_path):
    """Postings files of an older layout (64 buckets, no dl) stamped with
    the source's own stamp are stale: registered under the corpus-sized
    bucket count, a term lookup would prune to the wrong file. The bucket
    count is part of the stamp, so index_tables rebuilds them."""
    from pyspark.sql import functions as F

    from tiflash_spark import cache
    from tiflash_spark.pipeline.fulltext import build_postings, index_tables

    sf_dir = str(tmp_path / "sf_rebucket_ft")
    os.makedirs(sf_dir)
    _write_docs(spark, sf_dir, ["alpha beta", "alpha gamma"])
    name = f"ft_postings_{cache.sf_tag(sf_dir)}"
    loc = os.path.join(cache.warehouse_path(spark), name)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    old = build_postings(docs).drop("dl").write.mode("overwrite").bucketBy(64, "term")
    old.sortBy("term").option("path", loc).saveAsTable(name)
    with open(os.path.join(loc, "_SOURCE_STAMP"), "w") as fh:
        fh.write(cache._table_stamp(sf_dir, "documents"))
    spark.sql(f"DROP TABLE {name}")  # as a new session finds it

    postings = index_tables(spark, sf_dir)
    assert "dl" in postings.columns
    assert postings.filter(F.col("term") == "alpha").count() == 2
    with open(os.path.join(loc, "_SOURCE_STAMP")) as fh:
        assert fh.read().endswith("/1")
    spark.sql(f"DROP TABLE {name}")
    shutil.rmtree(loc)


def test_quant_scales_rebuild_on_source_rewrite(spark, tmp_path):
    from tiflash_spark.cache import sf_tag as _sf_tag
    from tiflash_spark.cache import warehouse_path as _warehouse_path
    from tiflash_spark.pipeline.similarity import ann_quantized_topk

    sf_dir = str(tmp_path / "sf_stale_q")
    os.makedirs(sf_dir)
    _write_embeddings(spark, sf_dir, scale=1.0)
    ann_quantized_topk(spark, sf_dir).collect()
    sloc = os.path.join(_warehouse_path(spark), f"quant_scales_{_sf_tag(sf_dir)}")
    with open(os.path.join(sloc, "_SOURCE_STAMP")) as fh:
        stamp0 = fh.read()

    time.sleep(0.01)
    _write_embeddings(spark, sf_dir, scale=2.0)  # per-dim min/max double
    from tiflash_spark.cache import read_parquet_memo

    ann_quantized_topk(spark, sf_dir).collect()
    with open(os.path.join(sloc, "_SOURCE_STAMP")) as fh:
        stamp1 = fh.read()
    assert stamp1 != stamp0  # sidecar rebuilt, not served stale
    maxs = read_parquet_memo(spark, sloc).collect()[0].maxs
    assert abs(maxs[0] - 14.0) < 1e-9  # (7+0)*2 — the RE-scaled corpus max


def test_ivf_index_rebuilds_on_source_rewrite(spark, tmp_path):
    from tiflash_spark.pipeline.similarity import vector_index

    sf_dir = str(tmp_path / "sf_stale_ivf")
    os.makedirs(sf_dir)
    _write_embeddings(spark, sf_dir, scale=1.0)
    cents0, assigned0 = vector_index(spark, sf_dir)
    n0 = assigned0.count()
    first0 = cents0.orderBy("cid").first().cvec[0]

    time.sleep(0.01)
    _write_embeddings(spark, sf_dir, scale=3.0)
    cents1, assigned1 = vector_index(spark, sf_dir)
    assert assigned1.count() == n0  # same corpus size ...
    first1 = cents1.orderBy("cid").first().cvec[0]
    assert first1 != first0 or first0 == 0.0  # ... but re-derived centroids


def test_ivf_graph_rebuilds_on_source_rewrite(spark, tmp_path):
    from tiflash_spark.pipeline.similarity import centroid_graph, vector_index

    sf_dir = str(tmp_path / "sf_stale_graph")
    os.makedirs(sf_dir)
    _write_embeddings(spark, sf_dir, scale=1.0)
    cents, _ = vector_index(spark, sf_dir)
    assert set(centroid_graph(spark, sf_dir, cents)) == set(range(8))

    time.sleep(0.01)
    _write_embeddings(spark, sf_dir, scale=1.0, n=12)  # 12 centroids now
    cents, _ = vector_index(spark, sf_dir)
    assert set(centroid_graph(spark, sf_dir, cents)) == set(range(12))
