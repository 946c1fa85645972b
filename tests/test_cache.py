"""Stale-safety of the source-stamped cache (tiflash_spark.cache): every
memoized value is rebuilt when its source changes, superseded values do
not pile up, and JVM-bound values never outlive their gateway."""

from __future__ import annotations

import os

from pyspark import SparkContext

from tiflash_spark import cache
from tiflash_spark.cache import literal_memo, prepared, read_parquet_memo


def _broadcasts_eval_side(q) -> bool:
    return "ResolvedHint (strategy=broadcast)" in q._jdf.queryExecution().analyzed().toString()


def test_contaminated_ids_recounts_after_in_place_rewrite(spark, tmp_path):
    """The broadcast-sizing count is stamped with the eval frame's files:
    an eval corpus rewritten in place past the gram limit is recounted,
    so the BROADCAST_GRAM_LIMIT guard switches to the shuffle join."""
    from tiflash_spark.pipeline.curation import contaminated_ids

    p = str(tmp_path / "eval.parquet")

    def write_eval(text: str) -> None:
        spark.createDataFrame([(0, text)], "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(p)
        spark.catalog.refreshByPath(p)

    train = spark.createDataFrame(
        [(0, "s0", "a b c d e f")], "doc_id long, source string, text string"
    )
    write_eval("a b c d e")  # one distinct 5-gram
    q = contaminated_ids(train, spark.read.parquet(p), broadcast_limit=3)
    assert _broadcasts_eval_side(q)
    assert q.count() == 1

    write_eval("a b c d e f g h i j")  # six distinct 5-grams
    q = contaminated_ids(train, spark.read.parquet(p), broadcast_limit=3)
    assert not _broadcasts_eval_side(q)
    assert q.count() == 1


def test_rewrite_leaves_one_entry_per_path_and_tag(spark, tmp_path):
    src = tmp_path / "lit.parquet"
    src.write_bytes(b"one")
    assert literal_memo(str(src), "tag", lambda: "v0") == "v0"
    for i, payload in enumerate((b"two-", b"three--"), start=1):
        src.write_bytes(payload)
        assert literal_memo(str(src), "tag", lambda: f"v{i}") == f"v{i}"
    keys = [k for k in cache._MEMO if k[1:] == (str(src), "tag")]
    assert len(keys) == 1
    assert cache._MEMO[keys[0]][1] == "v2"

    p = str(tmp_path / "schema.parquet")
    spark.createDataFrame([(1,)], "a int").write.mode("overwrite").parquet(p)
    assert read_parquet_memo(spark, p).columns == ["a"]
    spark.createDataFrame([(1, "x")], "a int, b string").write.mode("overwrite").parquet(p)
    spark.catalog.refreshByPath(p)
    assert read_parquet_memo(spark, p).columns == ["a", "b"]
    assert len([k for k in cache._MEMO if os.path.abspath(p) in k]) == 1


def test_prepared_rebuilds_on_new_gateway(monkeypatch):
    """A different gateway object means a different JVM: prepared entries
    are rebuilt even when the new gateway reuses the old one's id(), and
    nothing built without a gateway is kept."""
    monkeypatch.setattr(SparkContext, "_gateway", SparkContext._gateway)

    class Gateway:
        pass

    calls = []

    def build():
        calls.append(1)
        return len(calls)

    SparkContext._gateway = gw = Gateway()
    assert prepared(("test", "gateway"), build) == 1
    assert prepared(("test", "gateway"), build) == 1
    # the JVM restarts: the old gateway is dropped before the new one
    # exists, so CPython may hand the new object the same id()
    SparkContext._gateway = None
    del gw
    SparkContext._gateway = Gateway()
    assert prepared(("test", "gateway"), build) == 2

    SparkContext._gateway = None
    assert prepared(("test", "no-gateway"), build) == 3
    SparkContext._gateway = Gateway()
    assert prepared(("test", "no-gateway"), build) == 4
    SparkContext._gateway = None
    assert prepared(("test", "no-gateway"), build) == 5
