"""Store-local full-text index (reference Index/FullTextIndex/: per-segment
index, searchNoScore/searchScored over the MVCC valid-rows bitmap).

Covers: build + match semantics, segment pruning proof, MVCC (delta
updates/deletes win over the index, snapshot ts respected), BM25 scored
search ordering, refresh-on-compaction, DDL invalidation, and the
ALTER TABLE ADD ... INDEX SQL forms.
"""

from __future__ import annotations

import pytest

# long replay/property/parity sweep: excluded from the default run
# (pytest.ini addopts); scripts/full_suite.sh runs everything
pytestmark = pytest.mark.slow

import itertools

import pytest
from pyspark.sql import functions as F

from tiflash_spark.sources.delta_store import HANDLE, DeltaStore

_counter = itertools.count()


def _store(spark, tmp_path, docs):
    s = DeltaStore(spark, str(tmp_path / f"fts{next(_counter)}"))
    s.write_batch(
        spark.createDataFrame(docs, f"{HANDLE} long, body string"), version=1
    )
    s.compact(ts=1, num_segments=2)
    return s


DOCS = [
    (1, "the quick brown fox"),
    (2, "lazy dog sleeps"),
    (3, "quick silver lining"),
    (4, "dogs and foxes play"),
    (5, None),
    (6, "Quick QUICK quick"),
]


def test_build_and_match_word(spark, tmp_path):
    s = _store(spark, tmp_path, DOCS)
    covered = s.build_fulltext_index("body")
    assert covered == 2
    got = sorted(r[HANDLE] for r in s.fts_match_word("body", "quick").collect())
    assert got == [1, 3, 6]  # tokenizer lowercases; 'quick' != 'quickly'
    assert s.fts_match_word("body", "FOX").count() == 1  # query normalized too
    assert s.fts_match_word("body", "absent").count() == 0


def test_match_prunes_termless_segments(spark, tmp_path):
    """A covered segment whose postings lack the term is pruned at the
    file-listing level — the proof the reference's index-read path gives."""
    s = _store(spark, tmp_path, DOCS)
    s.build_fulltext_index("body")
    idx = spark.read.parquet(s._index_dir("fulltext", "body"))
    seg_of = {
        r[HANDLE]: r._seg
        for r in spark.read.parquet(s.stable_path()).select(HANDLE, "_seg").collect()
    }
    # find a term confined to one segment
    term_segs = {
        r.term: r.segs
        for r in idx.groupBy("term").agg(F.collect_set("_seg").alias("segs")).collect()
    }
    confined = [t for t, ss in term_segs.items() if len(ss) == 1]
    assert confined, "need a single-segment term for the pin"
    t = confined[0]
    covered = {int(x) for x in s._index_meta("fulltext")["body"]["segs"]}
    hit = {int(x) for x in term_segs[t]}
    assert covered - hit, "expected at least one prunable segment"
    rows = s.fts_match_word("body", t).collect()
    assert rows, "confined term must still match its rows"
    assert all(seg_of[r[HANDLE]] in hit for r in rows)


def test_match_mvcc_delta_wins_and_deletes(spark, tmp_path):
    s = _store(spark, tmp_path, DOCS)
    s.build_fulltext_index("body")
    # update: doc 2 gains 'quick', doc 1 loses it; delete doc 3
    s.write_batch(
        spark.createDataFrame(
            [(2, "quick update"), (1, "no match now")],
            f"{HANDLE} long, body string",
        ),
        version=2,
    )
    s.write_batch(
        spark.createDataFrame([(3, "quick silver lining")], f"{HANDLE} long, body string"),
        version=3,
        delete=True,
    )
    got = sorted(r[HANDLE] for r in s.fts_match_word("body", "quick").collect())
    assert got == [2, 6]
    # historical snapshot: the pre-update state
    old = sorted(r[HANDLE] for r in s.fts_match_word("body", "quick", ts=1).collect())
    assert old == [1, 3, 6]


def test_scored_search_orders_by_bm25(spark, tmp_path):
    docs = [
        (1, "spark spark spark engine"),
        (2, "spark engine"),
        (3, "engine room with a very long body of unrelated words " * 3),
        (4, "nothing relevant"),
    ]
    s = _store(spark, tmp_path, docs)
    s.build_fulltext_index("body")
    rows = s.fts_search_scored("body", "spark engine", k=10).collect()
    ids = [r[HANDLE] for r in rows]
    assert set(ids) == {1, 2, 3}  # OR semantics, doc 4 unmatched
    assert ids[0] in (1, 2)  # both-term docs above single-term doc 3
    assert rows[0].bm25 >= rows[-1].bm25
    two_term = {r[HANDLE]: r.n_terms for r in rows}
    assert two_term[1] == 2 and two_term[2] == 2 and two_term[3] == 1
    # scored search sees the delta tail exactly
    s.write_batch(
        spark.createDataFrame(
            [(9, "spark spark spark spark engine")], f"{HANDLE} long, body string"
        ),
        version=2,
    )
    rows2 = s.fts_search_scored("body", "spark engine", k=10).collect()
    assert 9 in {r[HANDLE] for r in rows2}


def test_refresh_on_compaction_and_ddl_invalidation(spark, tmp_path):
    s = _store(spark, tmp_path, DOCS)
    s.build_fulltext_index("body")
    s.write_batch(
        spark.createDataFrame([(7, "fresh quick doc")], f"{HANDLE} long, body string"),
        version=2,
    )
    s.compact(ts=2, num_segments=2)  # full rewrite → index rebuilt
    meta = s._index_meta("fulltext")["body"]
    assert meta["segs"], "index must survive compaction via rebuild"
    got = sorted(r[HANDLE] for r in s.fts_match_word("body", "quick").collect())
    assert got == [1, 3, 6, 7]
    n_docs = sum(v[0] for v in meta["stats"].values())
    assert n_docs == 6  # doc 5 is NULL-bodied
    # dropping the column retires the index on the next refresh cycle
    s.drop_column("body")
    s.write_batch(spark.createDataFrame([(8,)], f"{HANDLE} long"), version=3)
    s.compact(ts=3, num_segments=2)
    assert "body" not in s._index_meta("fulltext")


def test_admin_sql_index_ddl(spark, tmp_path):
    from tiflash_spark.sources.admin_sql import run_sql

    s = _store(spark, tmp_path, DOCS)
    r = run_sql(
        spark, "ALTER TABLE docs ADD FULLTEXT INDEX idx_b (body)", {"docs": s}
    ).collect()[0]
    assert (r.index_kind, r.column_name, r.segments_covered) == ("fulltext", "body", 2)
    assert "body" in s._index_meta("fulltext")

    s2 = DeltaStore(spark, str(tmp_path / f"fts{next(_counter)}"))
    s2.write_batch(
        spark.createDataFrame(
            [(i, i % 5, [float(i), float(i % 3)]) for i in range(20)],
            f"{HANDLE} long, grp int, v array<double>",
        ),
        version=1,
    )
    s2.compact(ts=1, num_segments=2)
    r = run_sql(
        spark, "ALTER TABLE t ADD COLUMNAR INDEX idx_g (grp) USING INVERTED", {"t": s2}
    ).collect()[0]
    assert r.index_kind == "inverted" and "grp" in s2._index_meta("inverted")
    r = run_sql(
        spark,
        "ALTER TABLE t ADD VECTOR INDEX idx_v ((VEC_COSINE_DISTANCE(v))) USING HNSW",
        {"t": s2},
    ).collect()[0]
    assert r.index_kind == "vector" and "v" in s2._index_meta("vector")
    with pytest.raises(ValueError, match="USING INVERTED"):
        run_sql(spark, "ALTER TABLE t ADD COLUMNAR INDEX i (grp) USING HNSW", {"t": s2})


def test_fts_without_index_is_exact(spark, tmp_path):
    """No index (or unsegmented layout): both paths fall back to exact
    snapshot evaluation."""
    s = DeltaStore(spark, str(tmp_path / f"fts{next(_counter)}"))
    s.write_batch(
        spark.createDataFrame(DOCS, f"{HANDLE} long, body string"), version=1
    )
    got = sorted(r[HANDLE] for r in s.fts_match_word("body", "quick").collect())
    assert got == [1, 3, 6]
    rows = s.fts_search_scored("body", "quick dog", k=10).collect()
    assert {r[HANDLE] for r in rows} == {1, 2, 3, 6}  # no stemming: 'dogs' != 'dog'


def test_read_node_fts_with_tail(spark, tmp_path):
    """Disaggregated FTS: the read node serves the pinned checkpoint
    index and merges the write-node tail — new docs match and rank,
    tail deletes hide checkpoint rows."""
    from tiflash_spark.sources import remote_store as rs
    from tiflash_spark.sources.remote_store import ReadNodeStore

    s = _store(spark, tmp_path, DOCS)
    s.build_fulltext_index("body")
    remote = str(tmp_path / "s3")
    rs.checkpoint(s, remote, version=1)
    rn = ReadNodeStore(spark, remote, tail_from=s)

    # checkpoint-only: same answer as the write node
    assert sorted(r[HANDLE] for r in rn.fts_match_word("body", "quick").collect()) == [1, 3, 6]

    # tail: new doc with the term, delete of an indexed match
    s.write_batch(
        spark.createDataFrame([(9, "quick tail doc")], f"{HANDLE} long, body string"),
        version=2,
    )
    s.write_batch(
        spark.createDataFrame([(1, "the quick brown fox")], f"{HANDLE} long, body string"),
        version=3,
        delete=True,
    )
    got = sorted(r[HANDLE] for r in rn.fts_match_word("body", "quick").collect())
    assert got == [3, 6, 9]
    scored = rn.fts_search_scored("body", "quick", k=10).collect()
    ids = {r[HANDLE] for r in scored}
    assert 9 in ids and 1 not in ids
    # read at the checkpoint watermark ignores the tail entirely
    old = sorted(r[HANDLE] for r in rn.fts_match_word("body", "quick", ts=1).collect())
    assert old == [1, 3, 6]


def test_match_inlist_and_scan_paths_agree(spark, tmp_path):
    """The handle-IN-list fast path (bounded hits, reference row-bitmap)
    and the segment-pruned scan fallback return identical rows."""
    s = _store(spark, tmp_path, DOCS)
    s.build_fulltext_index("body")
    s.write_batch(
        spark.createDataFrame(
            [(2, "quick via delta"), (6, "gone plain")],
            f"{HANDLE} long, body string",
        ),
        version=2,
    )
    fast = sorted(r[HANDLE] for r in s.fts_match_word("body", "quick").collect())
    old_limit = DeltaStore.LM_INLIST_LIMIT
    try:
        DeltaStore.LM_INLIST_LIMIT = 0  # force the scan fallback
        slow = sorted(r[HANDLE] for r in s.fts_match_word("body", "quick").collect())
    finally:
        DeltaStore.LM_INLIST_LIMIT = old_limit
    assert fast == slow == [1, 2, 3]


def test_sql_fts_match_word_agrees_with_store_path(spark, tmp_path):
    """The SQL function FTS_MATCH_WORD and the index-served store path
    implement the same predicate."""
    from tiflash_spark.functions.sql_registry import register_mysql_functions
    from tiflash_spark.sources.admin_sql import run_sql

    register_mysql_functions(spark)
    s = _store(spark, tmp_path, DOCS)
    s.build_fulltext_index("body")
    s.as_view("docs_v")
    via_sql = sorted(
        r[HANDLE]
        for r in run_sql(
            spark,
            f"SELECT {HANDLE} FROM docs_v WHERE fts_match_word('Quick', body)",
        ).collect()
    )
    via_store = sorted(r[HANDLE] for r in s.fts_match_word("body", "Quick").collect())
    assert via_sql == via_store == [1, 3, 6]


def test_fts_match_where_conjunction(spark, tmp_path):
    """FTS + pushed scalar conjunction: one read, union-of-indexes
    pruning, both predicates decide the rows (PushDownExecutor's
    fts-query + RSOperator coupling)."""
    docs = [(i, ("quick text" if i % 2 == 0 else "slow text"), i * 10)
            for i in range(20)]
    s = DeltaStore(spark, str(tmp_path / f"fts{next(_counter)}"))
    s.write_batch(
        spark.createDataFrame(docs, f"{HANDLE} long, body string, score long"),
        version=1,
    )
    s.compact(ts=1, num_segments=2)
    s.build_fulltext_index("body")
    s.build_zonemap(["score"])
    got = sorted(
        r[HANDLE]
        for r in s.fts_match_where(
            "body", "quick", [("score", 40, 120)]
        ).collect()
    )
    assert got == [4, 6, 8, 10, 12]
    # IN-list predicate form + delta update flipping a row out of the match
    s.write_batch(
        spark.createDataFrame([(6, "slow now", 60)],
                              f"{HANDLE} long, body string, score long"),
        version=2,
    )
    got2 = sorted(
        r[HANDLE]
        for r in s.fts_match_where(
            "body", "quick", [("score", [40, 60, 80])]
        ).collect()
    )
    assert got2 == [4, 8]
    # scan fallback (hit-list cap forced to 0) agrees
    old = DeltaStore.LM_INLIST_LIMIT
    try:
        DeltaStore.LM_INLIST_LIMIT = 0
        got3 = sorted(
            r[HANDLE]
            for r in s.fts_match_where(
                "body", "quick", [("score", [40, 60, 80])]
            ).collect()
        )
    finally:
        DeltaStore.LM_INLIST_LIMIT = old
    assert got3 == got2


def test_fts_match_phrase(spark, tmp_path):
    docs = [
        (1, "the quick brown fox jumps"),
        (2, "brown quick the"),          # all terms, wrong order
        (3, "a quick   brown dog"),      # adjacent after normalization
        (4, "quick and brown"),          # interleaved word
        (5, "prefix quick brown suffix"),
    ]
    s = _store(spark, tmp_path, docs)
    s.build_fulltext_index("body")
    got = sorted(
        r[HANDLE] for r in s.fts_match_phrase("body", "quick brown").collect()
    )
    assert got == [1, 3, 5]
    # delta row joins the phrase match; single-term phrase = word match
    s.write_batch(
        spark.createDataFrame(
            [(9, "fresh quick brown entry")], f"{HANDLE} long, body string"
        ),
        version=2,
    )
    got2 = sorted(
        r[HANDLE] for r in s.fts_match_phrase("body", "Quick Brown").collect()
    )
    assert got2 == [1, 3, 5, 9]
    assert sorted(
        r[HANDLE] for r in s.fts_match_phrase("body", "fox").collect()
    ) == [1]
    # scan fallback agrees
    old = DeltaStore.LM_INLIST_LIMIT
    try:
        DeltaStore.LM_INLIST_LIMIT = 0
        got3 = sorted(
            r[HANDLE] for r in s.fts_match_phrase("body", "quick brown").collect()
        )
    finally:
        DeltaStore.LM_INLIST_LIMIT = old
    assert got3 == got2


def test_fts_scored_with_predicate(spark, tmp_path):
    docs = [(i, "spark engine" if i % 2 == 0 else "spark only", i * 10)
            for i in range(10)]
    s = DeltaStore(spark, str(tmp_path / f"fts{next(_counter)}"))
    s.write_batch(
        spark.createDataFrame(docs, f"{HANDLE} long, body string, score long"),
        version=1,
    )
    s.compact(ts=1, num_segments=2)
    s.build_fulltext_index("body")
    rows = s.fts_search_scored(
        "body", "spark engine", k=10, preds=[("score", 30, 70)]
    ).collect()
    ids = sorted(r[HANDLE] for r in rows)
    assert ids == [3, 4, 5, 6, 7]  # all match 'spark'; predicate bounds rows
    best = max(rows, key=lambda r: r.bm25)
    assert best[HANDLE] in (4, 6)  # two-term docs outrank one-term inside the band


def test_scan_profile_surface(spark, tmp_path):
    """Index-served reads record a scan profile — the EXPLAIN ANALYZE
    tablescan-enrichment surface (2022-12-01 design doc): prune counts,
    IN-list size, rescue flag."""
    s = _store(spark, tmp_path, DOCS)
    s.build_fulltext_index("body")
    s.fts_match_word("body", "quick").collect()
    p = s.last_scan_profile
    assert p["method"] == "fts_match_word"
    assert p["segments_total"] == 2
    assert p["handle_inlist"] == 3  # 1, 3, 6 — no delta
    s.write_batch(
        spark.createDataFrame([(9, "quick late")], f"{HANDLE} long, body string"),
        version=2,
    )
    s.fts_match_word("body", "quick").collect()
    assert s.last_scan_profile["handle_inlist"] == 4  # + delta handle
    # scan fallback path reports pruned/scanned segments instead
    old = DeltaStore.LM_INLIST_LIMIT
    try:
        DeltaStore.LM_INLIST_LIMIT = 0
        s.fts_match_word("body", "quick").collect()
    finally:
        DeltaStore.LM_INLIST_LIMIT = old
    p2 = s.last_scan_profile
    assert p2["handle_inlist"] is None
    assert p2["segments_scanned"] + p2["segments_pruned"] == 2


def test_fts_match_boolean(spark, tmp_path):
    docs = [
        (1, "alpha beta gamma"),
        (2, "alpha beta"),
        (3, "alpha delta"),
        (4, "beta delta"),
        (5, "alpha beta delta"),
    ]
    s = _store(spark, tmp_path, docs)
    s.build_fulltext_index("body")
    got = sorted(
        r[HANDLE]
        for r in s.fts_match_boolean(
            "body", must=["alpha", "beta"], must_not=["delta"]
        ).collect()
    )
    assert got == [1, 2]
    got2 = sorted(
        r[HANDLE]
        for r in s.fts_match_boolean(
            "body", should=["gamma", "delta"], min_should=1
        ).collect()
    )
    assert got2 == [1, 3, 4, 5]
    # delta write flips membership both ways
    s.write_batch(
        spark.createDataFrame(
            [(2, "alpha beta delta"), (5, "alpha beta")],
            f"{HANDLE} long, body string",
        ),
        version=2,
    )
    got3 = sorted(
        r[HANDLE]
        for r in s.fts_match_boolean(
            "body", must=["alpha", "beta"], must_not=["delta"]
        ).collect()
    )
    assert got3 == [1, 5]
    # scan fallback agrees
    old = DeltaStore.LM_INLIST_LIMIT
    try:
        DeltaStore.LM_INLIST_LIMIT = 0
        got4 = sorted(
            r[HANDLE]
            for r in s.fts_match_boolean(
                "body", must=["alpha", "beta"], must_not=["delta"]
            ).collect()
        )
    finally:
        DeltaStore.LM_INLIST_LIMIT = old
    assert got4 == got3


def test_store_hybrid_search(spark, tmp_path):
    """Hybrid BM25+vector RRF over the store's own indexes: a doc strong
    in both lists outranks single-list docs; delta writes join both
    legs."""
    docs = [
        (1, "spark engine fast", [1.0, 0.0, 0.0]),
        (2, "spark engine", [0.9, 0.1, 0.0]),     # strong text + vector
        (3, "unrelated words here", [0.95, 0.05, 0.0]),  # vector only
        (4, "spark spark engine engine", [0.0, 1.0, 0.0]),  # text only
        (5, "nothing at all", [0.0, 0.0, 1.0]),
    ]
    s = DeltaStore(spark, str(tmp_path / f"fts{next(_counter)}"))
    s.write_batch(
        spark.createDataFrame(
            docs, f"{HANDLE} long, body string, v array<double>"
        ),
        version=1,
    )
    s.compact(ts=1, num_segments=2)
    s.build_fulltext_index("body")
    s.build_vector_index("v", n_centroids=2)
    rows = s.hybrid_search("body", "v", "spark engine", [1.0, 0.0, 0.0], k=5).collect()
    by_id = {r[HANDLE]: r for r in rows}
    # with k past the corpus size every doc gets a vector rank; the text
    # leg stays limited to matching docs
    assert set(by_id) <= {1, 2, 3, 4, 5}
    assert all(by_id[i].bm25_rank is not None for i in (1, 2, 4) if i in by_id)
    # docs present in BOTH lists (1, 2) must outrank single-list docs
    both = [r for r in rows if r.bm25_rank is not None and r.vec_rank is not None]
    single = [r for r in rows if r.bm25_rank is None or r.vec_rank is None]
    assert both and single
    assert min(r.rrf for r in both) > max(r.rrf for r in single)
    # a delta write enters both legs
    s.write_batch(
        spark.createDataFrame(
            [(9, "spark engine spark engine", [1.0, 0.0, 0.0])],
            f"{HANDLE} long, body string, v array<double>",
        ),
        version=2,
    )
    rows2 = s.hybrid_search("body", "v", "spark engine", [1.0, 0.0, 0.0], k=6).collect()
    nine = [r for r in rows2 if r[HANDLE] == 9]
    assert nine and nine[0].bm25_rank is not None and nine[0].vec_rank is not None


def test_fts_on_common_handle_store(spark, tmp_path):
    """The FTS index works unchanged over a clustered-index (string
    common-handle) store — hit-lists, IN-list fetch, and MVCC winners
    all key on the encoded composite handle."""
    from pyspark.sql import functions as F2

    from tiflash_spark.sources.common_handle import encode_common_handle

    rows = [("alpha", 1, "quick brown fox"), ("alpha", 2, "slow snail"),
            ("beta", 1, "quick start"), ("beta", 2, None)]
    df = spark.createDataFrame(rows, "name string, seq long, body string").select(
        encode_common_handle(
            (F2.col("name"), "string"), (F2.col("seq"), "long")
        ).alias(HANDLE),
        "name",
        "body",
    )
    s = DeltaStore(spark, str(tmp_path / f"ftsch{next(_counter)}"))
    s.write_batch(df, version=1)
    s.compact_range_segments(ts=1, num_segments=2)
    s.build_fulltext_index("body")
    got = sorted(r.name for r in s.fts_match_word("body", "quick").collect())
    assert got == ["alpha", "beta"]
    # delta update over the composite key flips membership
    upd = spark.createDataFrame(
        [("alpha", 1, "no longer matching")], "name string, seq long, body string"
    ).select(
        encode_common_handle(
            (F2.col("name"), "string"), (F2.col("seq"), "long")
        ).alias(HANDLE),
        "name",
        "body",
    )
    s.write_batch(upd, version=2)
    got2 = sorted(r.name for r in s.fts_match_word("body", "quick").collect())
    assert got2 == ["beta"]
    scored = s.fts_search_scored("body", "quick", k=5).collect()
    assert len(scored) == 1


def test_scored_candidate_cap_deterministic_and_observable(spark, tmp_path):
    """When index hits exceed the FTS_OVERFETCH*k*64 cap, the kept
    candidates are the highest-total-tf ones (handle tiebreak) — not a
    partition-order-dependent subset — and the truncation is recorded in
    last_scan_profile. The true top-k survives because tf-ranked
    candidates dominate BM25 within one index's stats."""
    # 80 docs share the common term; tf grows with handle so the ranked
    # cap keeps the high-tf (= high-BM25) documents
    docs = [(i, " ".join(["common"] * (1 + i // 10)) + f" w{i}") for i in range(80)]
    s = _store(spark, tmp_path, docs)
    s.build_fulltext_index("body")
    old = DeltaStore.FTS_OVERFETCH
    try:
        DeltaStore.FTS_OVERFETCH = 1  # cap = 1*1*64 = 64 < 80 hits
        a = [r[HANDLE] for r in s.fts_search_scored("body", "common", k=1).collect()]
        b = [r[HANDLE] for r in s.fts_search_scored("body", "common", k=1).collect()]
        assert a == b  # deterministic under re-execution
        assert s.last_scan_profile["method"] == "fts_search_scored"
        assert s.last_scan_profile["candidates_truncated"] is True
        # the winner is a max-tf doc (handles 70..79 hold tf=8)
        assert a[0] in range(70, 80)
        # an uncapped run agrees on the winner
        DeltaStore.FTS_OVERFETCH = 100
        full = [r[HANDLE] for r in s.fts_search_scored("body", "common", k=1).collect()]
        assert s.last_scan_profile["candidates_truncated"] is False
        assert a[0] == full[0]
    finally:
        DeltaStore.FTS_OVERFETCH = old


def test_fts_candidates_reach_scan_via_broadcast_join(spark, tmp_path):
    """The scored-search candidate pool reaches the scan as a BROADCAST
    LEFT SEMI join on the handle, not a multi-thousand-literal IN-list
    (the 100 TB idiom: a literal predicate bloats plan and driver)."""
    from tiflash_spark.sources.delta_store import DeltaStore

    st = DeltaStore(spark, str(tmp_path / "fts_bj"))
    rows = spark.createDataFrame(
        [(i, f"alpha beta doc {i} " + "beta " * (i % 4)) for i in range(1, 200)],
        "_tidb_rowid long, body string",
    )
    st.write_batch(rows, version=1)
    st.compact(ts=1, num_segments=4)
    st.build_fulltext_index("body")
    df = st.fts_search_scored("body", "alpha beta", k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert df.count() == 5
