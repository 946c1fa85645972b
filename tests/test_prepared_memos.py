"""The r11 driver-work memos: prepared() expression reuse and
literal_memo() plan-literal reuse.

Both cache plan-construction artifacts only — never query results — and
literal_memo must invalidate when its source parquet is rewritten in
place, exactly like read_parquet_memo / the sidecar _SOURCE_STAMPs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tiflash_spark.cache import _MEMO, literal_memo, prepared


def test_prepared_returns_same_object(spark):
    calls = []

    def build():
        calls.append(1)
        return F.col("x") + 1

    a = prepared(("test", "same-object"), build)
    b = prepared(("test", "same-object"), build)
    assert a is b
    assert len(calls) == 1


def test_prepared_column_usable_in_multiple_plans(spark):
    c = prepared(("test", "usable"), lambda: (F.col("v") * 2).alias("d"))
    df1 = spark.range(3).select(F.col("id").alias("v")).select(c)
    df2 = spark.range(5).select(F.col("id").alias("v")).select(c)
    assert [r.d for r in df1.collect()] == [0, 2, 4]
    assert [r.d for r in df2.collect()] == [0, 2, 4, 6, 8]


def test_literal_memo_caches_per_stamp(tmp_path):
    src = tmp_path / "t.parquet"
    src.write_bytes(b"one")
    calls = []

    def build():
        calls.append(1)
        return [1, 2, 3]

    assert literal_memo(str(src), "tag", build) == [1, 2, 3]
    assert literal_memo(str(src), "tag", build) == [1, 2, 3]
    assert len(calls) == 1


def test_literal_memo_invalidates_on_rewrite(tmp_path):
    src = tmp_path / "t.parquet"
    src.write_bytes(b"one")
    vals = iter(["first", "second"])
    build = lambda: next(vals)  # noqa: E731
    assert literal_memo(str(src), "rw", build) == "first"
    # rewrite IN PLACE with different size -> different (mtime, size) key
    src.write_bytes(b"rewritten-longer")
    assert literal_memo(str(src), "rw", build) == "second"


def test_literal_memo_missing_source_never_caches(tmp_path):
    gone = tmp_path / "absent.parquet"
    calls = []

    def build():
        calls.append(1)
        return 42

    assert literal_memo(str(gone), "x", build) == 42
    assert literal_memo(str(gone), "x", build) == 42
    assert len(calls) == 2  # no stat -> no key -> rebuilt each time


def test_memos_hold_no_dataframes():
    """The memos carry plan artifacts (Columns, scalars, lists), never
    DataFrames/results keyed on testdata rows."""
    from pyspark.sql import DataFrame

    for _stamp, v in list(_MEMO.values()):
        assert not isinstance(v, DataFrame)


def _plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_prepared_trees_follow_their_module_constants(spark, monkeypatch):
    """A constant baked into a prepared tree is part of its key: patching
    it builds a new tree instead of reusing the one built before."""
    from tests.conftest import SF_SMALL
    from tiflash_spark.pipeline import text
    from tiflash_spark.pipeline.curation import dataset_card

    assert "zebra" not in _plan(text.quality_model_score(spark, SF_SMALL))
    monkeypatch.setattr(text, "QUALITY_MODEL_WEIGHTS", [("zebra", 2.5)])
    assert "zebra" in _plan(text.quality_model_score(spark, SF_SMALL))

    assert "12345" not in _plan(dataset_card(spark, SF_SMALL))
    monkeypatch.setitem(text.QUALITY_RULE, "max_tokens", 12345)
    assert "12345" in _plan(dataset_card(spark, SF_SMALL))
