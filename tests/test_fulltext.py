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
    from tiflash_spark.plans.explain import exchange_count

    w = postings.drop("positions").write.mode("overwrite").bucketBy(4, "term").sortBy("term")
    w.saveAsTable("ft_idx_test")
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
    from tiflash_spark.plans.explain import exchange_count

    postings.write.mode("overwrite").bucketBy(4, "term").sortBy("term").saveAsTable("ft_idx_plan")
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

    from tiflash_spark.pipeline.fulltext import bm25_search, corpus_stats_of

    docs = spark.createDataFrame([
        Row(doc_id=1, text="common common common common common common"),
        Row(doc_id=2, text="common rare"),
        Row(doc_id=3, text="common filler filler"),
        Row(doc_id=4, text="filler filler filler filler"),
    ])
    postings = build_postings(docs).persist()
    stats = corpus_stats_of(docs)
    assert stats == (4.0, 15 / 4)
    got = {
        r.doc_id: (r.n_terms, r.bm25)
        for r in bm25_search(postings, ["common", "rare"], stats, k=10).collect()
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
    assert got[3][1] == pytest.approx(score({"common": 1}, 3, df_by), abs=1e-4)
    assert got[2] == (2, got[2][1])
    # ranking divergence: doc 1 wins on raw tf, doc 2 wins on BM25
    tf_rank = [r.doc_id for r in keyword_search(postings, ["common", "rare"], "any", 10).collect()]
    bm_rank = sorted(got, key=lambda d: (-got[d][1], d))
    assert tf_rank[0] == 1
    assert bm_rank[0] == 2


def _bm25_joined(postings, terms, k1=1.2, b=0.75):
    """BM25 in its join form: doc lengths as the per-doc SUM(tf), df_t
    and (N, avgdl) aggregated and joined back — the formulation the
    one-scan bm25_search must reproduce row for row."""
    hits = postings.filter(F.col("term").isin(*terms)).select("term", "doc_id", "tf")
    df_t = hits.groupBy("term").agg(F.count("doc_id").alias("df"))
    doclen = postings.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    corpus = doclen.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    contrib = idf * (F.col("tf") * F.lit(k1 + 1.0)) / (F.col("tf") + norm)
    scored = (
        hits.join(df_t, "term").join(doclen, "doc_id").crossJoin(corpus)
        .groupBy("doc_id")
        .agg(
            F.count("term").cast("long").alias("n_terms"),
            F.round(F.sum(contrib), 4).alias("bm25"),
        )
    )
    return corpus, scored.orderBy(F.col("bm25").desc(), F.col("doc_id"))


def test_corpus_stats_persisted_matches_inline(spark, tmp_path, monkeypatch):
    """corpus_stats ((n_docs, avgdl) as plan literals, fetched once per
    corpus version) equals the count/avg of the per-doc SUM(tf) doc
    lengths, and bm25_search with it returns exactly the rows of the
    join form that aggregates doc lengths and stats from the postings."""
    import os
    import shutil

    from tiflash_spark import cache
    from tiflash_spark.pipeline import fulltext as ft

    docs = spark.createDataFrame(DOCS)
    monkeypatch.setattr(ft, "load_table", lambda _s, _d, _n: docs)
    sf_dir = str(tmp_path / "sfY")
    postings = ft.index_tables(spark, sf_dir)
    table = f"ft_postings_{cache.sf_tag(sf_dir)}"
    try:
        stats = ft.corpus_stats(spark, sf_dir)
        corpus, joined = _bm25_joined(postings, ["quick", "fox"])
        inline = corpus.collect()[0]
        assert stats == (inline.n_docs, inline.avgdl)
        got = ft.bm25_search(postings, ["quick", "fox"], stats, k=10).collect()
        assert got == joined.limit(10).collect()
        assert len(got) == 3
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(os.path.join(cache.warehouse_path(spark), table.lower()), ignore_errors=True)


def _jobs(spark, fn) -> int:
    import uuid

    sc = spark.sparkContext
    group = f"fulltext-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "fulltext jobs")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_index_tables_reregister_from_files(spark, tmp_path, monkeypatch):
    """index_tables survives a catalog wipe: dropping the (external) table
    entry and calling again re-registers from the on-disk bucketed files
    — no rebuild (the files are untouched), doc lengths and bucket
    locality preserved."""
    import os
    import shutil

    from tiflash_spark import cache
    from tiflash_spark.pipeline import fulltext as ft
    from tiflash_spark.plans.explain import exchange_count

    docs = spark.createDataFrame(DOCS)
    monkeypatch.setattr(
        ft, "load_table", lambda _s, _d, _n: docs
    )
    sf_dir = str(tmp_path / "sfX")
    table = f"ft_postings_{cache.sf_tag(sf_dir)}"
    p1 = ft.index_tables(spark, sf_dir)
    n_postings = p1.count()
    doc_lengths = {(r.doc_id, r.dl) for r in p1.select("doc_id", "dl").collect()}
    wh = cache.warehouse_path(spark)
    loc = os.path.join(wh, table.lower())
    assert os.path.isdir(loc)
    files = {f: os.stat(os.path.join(loc, f)).st_mtime_ns for f in os.listdir(loc)}
    # external tables: DROP keeps files
    spark.sql(f"DROP TABLE {table}")
    assert os.path.isdir(loc)
    p2 = ft.index_tables(spark, sf_dir)
    assert {f: os.stat(os.path.join(loc, f)).st_mtime_ns for f in os.listdir(loc)} == files
    assert p2.count() == n_postings
    assert {(r.doc_id, r.dl) for r in p2.select("doc_id", "dl").collect()} == doc_lengths
    # re-registered table still answers lookup-shaped plans
    q = keyword_search(p2, ["quick", "fox"], mode="all", k=5)
    assert exchange_count(q) <= 2
    assert {r.doc_id for r in q.collect()} == {1, 2, 4}
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(loc, ignore_errors=True)


def test_postings_carry_doc_length(spark):
    """``dl`` on every posting row is the document's token count: the
    SUM(tf) of its rows and size(tokenize(text)). A document with empty,
    punctuation-only or NULL text has no postings and is not counted in
    n_docs."""
    import re

    from tiflash_spark.pipeline.fulltext import TOKEN_RE, corpus_stats_of

    rows = [(r.doc_id, r.text) for r in DOCS] + [(6, ""), (7, "?! --"), (8, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    postings = build_postings(docs)
    per_doc = {
        r.doc_id: (r.dl_min, r.dl_max, r.sum_tf)
        for r in postings.groupBy("doc_id")
        .agg(
            F.min("dl").alias("dl_min"),
            F.max("dl").alias("dl_max"),
            F.sum("tf").alias("sum_tf"),
        )
        .collect()
    }
    want = {}
    for d, text in rows:
        n = len([t for t in re.split(TOKEN_RE, (text or "").lower()) if t])
        if n:
            want[d] = n
    assert per_doc == {d: (n, n, n) for d, n in want.items()}
    assert dict(postings.dtypes)["dl"] == "bigint"
    assert corpus_stats_of(docs) == (float(len(want)), sum(want.values()) / len(want))


def test_postings_unique_per_term_doc_id(spark):
    """build_postings is a GROUP BY term, doc_id for any input: two
    documents sharing a doc_id, of different lengths, fold into one row
    per term (tf summed, dl the largest length holding it), so the plain
    COUNTs of keyword, boolean and BM25 search never see a duplicate."""
    docs = spark.createDataFrame(
        [(1, "fox dog"), (1, "fox fox cat"), (2, "dog")], "doc_id long, text string"
    )
    rows = {(r.term, r.doc_id): (r.dl, r.tf) for r in build_postings(docs).collect()}
    assert rows == {
        ("fox", 1): (3, 3), ("dog", 1): (2, 1), ("cat", 1): (3, 1), ("dog", 2): (1, 1),
    }


def test_postings_bucket_count_follows_corpus_size(spark, tmp_path, monkeypatch):
    """One postings bucket per BUCKET_BYTES of documents.parquet, rounded
    up to a power of two and capped at MAX_BUCKETS. A multi-bucket index
    answers keyword, boolean and BM25 search exactly as the one-partition
    frame it was written from."""
    import os
    import shutil

    from tiflash_spark import cache
    from tiflash_spark.pipeline import fulltext as ft

    sf_dir = tmp_path / "sf_ft_buckets"
    sf_dir.mkdir()
    path = str(sf_dir / "documents.parquet")
    docs = spark.createDataFrame(DOCS)
    docs.coalesce(1).write.parquet(path)
    sf_dir = str(sf_dir)
    size = sum(f[2] for f in cache.tree_stamp(path))
    for per, want in ((size, 1), (-(-size // 2), 2), (-(-size // 3), 4), (1, ft.MAX_BUCKETS)):
        monkeypatch.setattr(ft, "BUCKET_BYTES", per)
        assert ft.postings_buckets(sf_dir) == want

    monkeypatch.setattr(ft, "BUCKET_BYTES", -(-size // 3))
    table = f"ft_postings_{cache.sf_tag(sf_dir)}"
    loc = os.path.join(cache.warehouse_path(spark), table.lower())
    try:
        postings = ft.index_tables(spark, sf_dir)
        with open(os.path.join(loc, "_SOURCE_STAMP")) as fh:
            assert fh.read().endswith("/4")
        spec = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").filter("col_name = 'Num Buckets'")
        assert spec.collect()[0].data_type == "4"
        ref = build_postings(docs).coalesce(1)
        stats = ft.corpus_stats_of(docs)
        for search in (
            lambda p: keyword_search(p, ["quick", "fox"], "all"),
            lambda p: ft.boolean_search(p, ["fox"], ["quick"], ["lazy"]),
            lambda p: ft.bm25_search(p, ["quick", "dog", "fox"], stats),
        ):
            assert search(postings).collect() == search(ref).collect()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(loc, ignore_errors=True)


def test_bm25_cold_build_jobs_and_one_postings_scan(spark, tmp_path):
    """A cold fulltext_bm25 over a freshly landed corpus builds its index
    in one pass and its stats in one aggregate (≤ 4 build jobs: each is a
    shuffle stage plus its result) and executes in ≤ 2 jobs; a second
    build on the same copy runs none. The executed plan's one scan is
    the postings table, and it broadcasts nothing."""
    import os
    import shutil

    from tests.conftest import SF_SMALL
    from tiflash_spark import cache
    from tiflash_spark.pipeline import fulltext as ft

    sf_dir = tmp_path / "sf_ft_jobs"
    sf_dir.mkdir()
    shutil.copy(os.path.join(SF_SMALL, "documents.parquet"), sf_dir / "documents.parquet")
    sf_dir = str(sf_dir)
    # landing registers the table, which reads its footer schema
    ft.load_table(spark, sf_dir, "documents")
    table = f"ft_postings_{cache.sf_tag(sf_dir)}"
    try:
        frames = []
        assert _jobs(spark, lambda: frames.append(ft.fulltext_bm25(spark, sf_dir))) <= 4
        rows = []
        assert _jobs(spark, lambda: rows.extend(frames[0].collect())) <= 2
        assert _jobs(spark, lambda: ft.fulltext_bm25(spark, sf_dir)) == 0
        assert rows == ft.fulltext_bm25(spark, SF_SMALL).collect()
        plan = frames[0]._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("FileScan") == final.count(f"default.{table.lower()}") == 1
        assert "BroadcastExchange" not in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(os.path.join(cache.warehouse_path(spark), table.lower()), ignore_errors=True)


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
