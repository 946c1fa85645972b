"""Inverted-index/full-text analogue tests (reference
dbms/src/Storages/DeltaMerge/Index/InvertedIndex/, FullTextIndex/):
posting-list construction, keyword AND/OR search, positional phrase
search, and the bucketed-index no-shuffle property."""

from __future__ import annotations

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from tiflash_spark.pipeline.fulltext import (
    build_postings,
    keyword_search,
    phrase_search,
)

DOCS = [
    Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
    Row(doc_id=2, text="quick quick fox"),
    Row(doc_id=3, text="lazy dog sleeps; the dog barks"),
    Row(doc_id=4, text="Fox? QUICK-fox! brown."),
    Row(doc_id=5, text="nothing relevant here"),
]


@pytest.fixture(scope="module")
def postings(spark):
    return build_postings(spark.createDataFrame(DOCS)).persist()


def test_posting_rows(postings):
    row = postings.filter((F.col("term") == "quick") & (F.col("doc_id") == 2)).collect()[0]
    assert row.tf == 2
    assert row.positions == [0, 1]
    # tokenization: punctuation/case folded (doc 4 has fox twice)
    row4 = postings.filter((F.col("term") == "fox") & (F.col("doc_id") == 4)).collect()[0]
    assert row4.tf == 2


def test_keyword_all_vs_any(postings):
    all_hits = {r.doc_id for r in keyword_search(postings, ["quick", "fox"], "all").collect()}
    assert all_hits == {1, 2, 4}
    any_hits = {r.doc_id for r in keyword_search(postings, ["quick", "dog"], "any").collect()}
    assert any_hits == {1, 2, 3, 4}
    with pytest.raises(ValueError):
        keyword_search(postings, ["x"], mode="phrase")


def test_phrase_search_positional(postings):
    # "quick fox" consecutive: doc 2 (pos 1→2) and doc 4 (QUICK-fox) only;
    # doc 1 has both words, never adjacent
    hits = {r.doc_id: r.n_occurrences for r in phrase_search(postings, ["quick", "fox"]).collect()}
    assert hits == {2: 1, 4: 1}
    # three-term phrase: only doc 1 has the full consecutive run
    three = {r.doc_id for r in phrase_search(postings, ["quick", "brown", "fox"]).collect()}
    assert three == {1}
    lazy = {r.doc_id for r in phrase_search(postings, ["lazy", "dog"]).collect()}
    assert lazy == {1, 3}


def test_bucketed_postings_join_no_shuffle(spark, postings, tmp_path):
    """Term-bucketed posting lists co-locate a term↔term intersection:
    at most the final agg exchanges (the index bucket join itself must
    not shuffle) — the analogue of per-pack index locality."""
    from tiflash_spark.pipeline.fulltext import save_postings_bucketed
    from tiflash_spark.plans.explain import exchange_count

    save_postings_bucketed(postings.drop("positions"), "ft_idx_test", buckets=4)
    idx = spark.table("ft_idx_test")
    a = idx.filter(F.col("term") == "quick")
    b = idx.filter(F.col("term") == "fox")
    joined = a.join(b, "doc_id")  # doc-join still shuffles on doc_id
    term_join = a.alias("x").join(b.alias("y"), F.col("x.term") == F.col("y.term"))
    assert exchange_count(term_join) == 0
    assert joined.count() >= 1
    spark.sql("DROP TABLE IF EXISTS ft_idx_test")


def test_keyword_search_on_bucketed_index_is_lookup_shaped(spark, postings, tmp_path):
    """The MEASURED search plan over the at-rest index: bucket-pruned term
    filter + one doc_id agg + TopN — at most 2 exchanges, no full-corpus
    rescan (the index build is amortized at write time)."""
    from tiflash_spark.pipeline.fulltext import save_postings_bucketed
    from tiflash_spark.plans.explain import exchange_count

    save_postings_bucketed(postings, "ft_idx_plan", buckets=4)
    idx = spark.table("ft_idx_plan")
    q = keyword_search(idx, ["quick", "fox"], mode="all", k=5)
    assert exchange_count(q) <= 2
    assert {r.doc_id for r in q.collect()} == {1, 2, 4}
    spark.sql("DROP TABLE IF EXISTS ft_idx_plan")


def test_bm25_scores_and_ranking_divergence(spark):
    """BM25 vs raw-tf ranking on a pinned fixture: a doc spamming one
    common term outranks on total_tf but loses on BM25 to a doc matching
    the rare term; scores match a hand computation."""
    import math

    from tiflash_spark.pipeline.fulltext import bm25_search, build_doc_lengths

    docs = [
        Row(doc_id=1, text="common common common common common common"),
        Row(doc_id=2, text="common rare"),
        Row(doc_id=3, text="common filler filler"),
        Row(doc_id=4, text="filler filler filler filler"),
    ]
    postings = build_postings(spark.createDataFrame(docs)).persist()
    doclen = build_doc_lengths(postings)
    got = {
        r.doc_id: (r.n_terms, r.bm25)
        for r in bm25_search(postings, doclen, ["common", "rare"], k=10).collect()
    }

    # hand computation (k1=1.2, b=0.75; N=4, avgdl=(6+2+3+4)/4)
    def score(tf_by_term, dl, df_by_term, n=4, avgdl=15 / 4, k1=1.2, b=0.75):
        s = 0.0
        for t, tf in tf_by_term.items():
            idf = math.log(1 + (n - df_by_term[t] + 0.5) / (df_by_term[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
        return round(s, 4)

    df_by = {"common": 3, "rare": 1}
    assert got[1][1] == pytest.approx(score({"common": 6}, 6, df_by), abs=1e-4)
    assert got[2][1] == pytest.approx(score({"common": 1, "rare": 1}, 2, df_by), abs=1e-4)
    assert got[2] == (2, got[2][1])
    # ranking divergence: doc 1 wins on raw tf, doc 2 wins on BM25
    tf_rank = [r.doc_id for r in keyword_search(postings, ["common", "rare"], "any", 10).collect()]
    bm_rank = sorted(got, key=lambda d: (-got[d][1], d))
    assert tf_rank[0] == 1
    assert bm_rank[0] == 2


def test_corpus_stats_persisted_matches_inline(spark, tmp_path, monkeypatch):
    """corpus_stats (round 10: (n_docs, avgdl) stored beside the index at
    build time) returns the same values as the inline doclen aggregate,
    persists to a 1-row parquet, and yields the same BM25 result when
    passed to bm25_search."""
    import os
    import shutil

    from tiflash_spark import cache
    from tiflash_spark.pipeline import fulltext as ft

    docs = spark.createDataFrame(DOCS)
    monkeypatch.setattr(ft, "load_table", lambda _s, _d, _n: docs)
    sf_dir = str(tmp_path / "sfY")
    postings, doclen = ft.index_tables(spark, sf_dir)
    try:
        stats = ft.corpus_stats(spark, sf_dir, doclen)
        loc = os.path.join(cache.warehouse_path(spark), f"ft_stats_{cache.sf_tag(sf_dir)}")
        assert os.path.isdir(loc)
        inline = doclen.agg(
            F.count(F.lit(1)).cast("double").alias("n_docs"),
            F.avg("dl").alias("avgdl"),
        ).collect()[0]
        got = stats.collect()
        assert len(got) == 1
        assert (got[0].n_docs, got[0].avgdl) == (inline.n_docs, inline.avgdl)
        with_stats = ft.bm25_search(
            postings, doclen, ["quick", "fox"], k=10, stats=stats
        ).collect()
        without = ft.bm25_search(postings, doclen, ["quick", "fox"], k=10).collect()
        assert with_stats == without
    finally:
        for t in (f"ft_postings_{cache.sf_tag(sf_dir)}", f"ft_doclen_{cache.sf_tag(sf_dir)}"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(
                os.path.join(cache.warehouse_path(spark), t.lower()), ignore_errors=True
            )
        shutil.rmtree(
            os.path.join(cache.warehouse_path(spark), f"ft_stats_{cache.sf_tag(sf_dir)}"),
            ignore_errors=True,
        )


def test_index_tables_reregister_from_files(spark, tmp_path, monkeypatch):
    """index_tables survives a catalog wipe: dropping the (external) table
    entries and calling again re-registers from the on-disk bucketed files
    — no rebuild, bucket locality preserved."""
    import os

    from tiflash_spark import cache
    from tiflash_spark.pipeline import fulltext as ft
    from tiflash_spark.plans.explain import exchange_count

    docs = spark.createDataFrame(DOCS)
    monkeypatch.setattr(
        ft, "load_table", lambda _s, _d, _n: docs
    )
    sf_dir = str(tmp_path / "sfX")
    p1, d1 = ft.index_tables(spark, sf_dir)
    n_postings = p1.count()
    wh = cache.warehouse_path(spark)
    loc = os.path.join(wh, f"ft_postings_{cache.sf_tag(sf_dir)}".lower())
    assert os.path.isdir(loc)
    # external tables: DROP keeps files
    spark.sql(f"DROP TABLE ft_postings_{cache.sf_tag(sf_dir)}")
    spark.sql(f"DROP TABLE ft_doclen_{cache.sf_tag(sf_dir)}")
    assert os.path.isdir(loc)
    p2, d2 = ft.index_tables(spark, sf_dir)
    assert p2.count() == n_postings
    assert d2.count() == len({r.doc_id for r in p1.select("doc_id").collect()})
    # re-registered table still answers lookup-shaped plans
    q = keyword_search(p2, ["quick", "fox"], mode="all", k=5)
    assert exchange_count(q) <= 2
    assert {r.doc_id for r in q.collect()} == {1, 2, 4}
    import shutil

    for t in (f"ft_postings_{cache.sf_tag(sf_dir)}", f"ft_doclen_{cache.sf_tag(sf_dir)}"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t.lower()), ignore_errors=True)


def test_boolean_search_semantics(spark):
    """Constructed postings pin must/should/must_not semantics: must
    intersects, should boosts rank, must_not anti-joins out."""
    from pyspark.sql import Row

    from tiflash_spark.pipeline.fulltext import boolean_search

    rows = [
        # doc 1: must + both should
        Row(term="spark", doc_id=1, tf=2), Row(term="window", doc_id=1, tf=1),
        Row(term="hash", doc_id=1, tf=1),
        # doc 2: must + one should, higher tf
        Row(term="spark", doc_id=2, tf=9), Row(term="window", doc_id=2, tf=5),
        # doc 3: must only, but excluded by must_not
        Row(term="spark", doc_id=3, tf=7), Row(term="bad", doc_id=3, tf=1),
        # doc 4: should terms only — no must, dropped
        Row(term="window", doc_id=4, tf=8),
    ]
    postings = spark.createDataFrame(rows)
    got = boolean_search(
        postings, must=["spark"], should=["window", "hash"], must_not=["bad"], k=10
    ).collect()
    assert [r.doc_id for r in got] == [1, 2]  # 2 should-matches outrank tf
    assert got[0].n_should == 2 and got[1].n_should == 1
    with pytest.raises(ValueError, match="must term"):
        boolean_search(postings, must=[])
