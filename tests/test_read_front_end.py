"""One read front end for DeltaStore, PartitionedStore and ReadNodeStore:
each store's `as_view` shows what that store's own `read` returns, a read
node runs the checkpoint store's read step (MVCC pick, range tombstones,
ADD-DEFAULT fill) over checkpoint ∪ write-node tail, so every read method
of a read node returns what the write node returns, a read node refuses
every mutator, the full-text reads build the log once, and an ingested
stable file keeps its checksum file."""

from __future__ import annotations

import os
from decimal import Decimal

import pytest

from tiflash_spark.operators.mvcc import HANDLE
from tiflash_spark.sources import remote_store as rs
from tiflash_spark.sources.admin_sql import run_sql
from tiflash_spark.sources.delta_store import DeltaStore
from tiflash_spark.sources.remote_store import ReadNodeStore, ReadOnlyStoreError


def test_partitioned_view_renders_dec65_like_plain_table(spark, tmp_path):
    stores = {}
    run_sql(
        spark,
        "CREATE TABLE dp (id INT NOT NULL, d DECIMAL(65,2), "
        "PRIMARY KEY CLUSTERED (id)) PARTITION BY RANGE (id) "
        "(PARTITION p0 VALUES LESS THAN (10), PARTITION p1 VALUES LESS THAN (100))",
        stores, base_path=str(tmp_path),
    )
    run_sql(
        spark,
        "CREATE TABLE dt (id INT NOT NULL, d DECIMAL(65,2), PRIMARY KEY CLUSTERED (id))",
        stores, base_path=str(tmp_path),
    )
    for t in ("dp", "dt"):
        run_sql(spark, f"INSERT INTO {t} VALUES (1, 12.5), (50, -3.25), (60, NULL)", stores)
    part = run_sql(spark, "SELECT * FROM dp", stores)
    plain = run_sql(spark, "SELECT * FROM dt", stores)
    assert dict(part.dtypes)["d"] == dict(plain.dtypes)["d"] == "decimal(38,2)"
    want = {1: Decimal("12.50"), 50: Decimal("-3.25"), 60: None}
    assert {r.id: r.d for r in part.collect()} == {r.id: r.d for r in plain.collect()} == want


def test_read_node_fills_add_default_like_write_node(spark, tmp_path):
    wn = DeltaStore(spark, str(tmp_path / "wn"))
    wn.write_batch(spark.createDataFrame([(1, 10), (2, 20)], f"{HANDLE} long, a long"), version=1)
    wn.add_column("b", "long", default=7)
    wn.write_batch(
        spark.createDataFrame([(3, 30, None), (4, 40, 5)], f"{HANDLE} long, a long, b long"),
        version=2,
    )
    remote = str(tmp_path / "s3")
    rs.checkpoint(wn, remote, version=2)
    rn = ReadNodeStore(spark, remote)
    want = {1: 7, 2: 7, 3: None, 4: 5}
    assert {r[HANDLE]: r.b for r in wn.read().collect()} == want
    assert {r[HANDLE]: r.b for r in rn.read().collect()} == want
    assert {r[HANDLE]: r.b for r in rn.read_handles([1, 2, 3, 4]).collect()} == want


def test_read_node_view_shows_write_node_tail(spark, tmp_path):
    wn = DeltaStore(spark, str(tmp_path / "wn"))
    schema = f"{HANDLE} long, v long"
    wn.write_batch(spark.createDataFrame([(1, 10), (2, 20)], schema), version=1)
    remote = str(tmp_path / "s3")
    rs.checkpoint(wn, remote, version=1)
    wn.write_batch(spark.createDataFrame([(1, 11), (3, 30)], schema), version=2)
    rn = ReadNodeStore(spark, remote, tail_from=wn)
    rn.as_view("rn_tail_v")
    got = sorted(tuple(r) for r in spark.sql(f"SELECT {HANDLE}, v FROM rn_tail_v").collect())
    assert got == sorted(tuple(r) for r in rn.read().collect()) == [(1, 11), (2, 20), (3, 30)]


def test_ingested_part_files_keep_their_checksums(spark, tmp_path):
    store = DeltaStore(spark, str(tmp_path / "s"))
    schema = f"{HANDLE} long, v long"
    store.write_batch(spark.createDataFrame([(h, h) for h in range(40)], schema), version=1)
    store.compact_range_segments(ts=1, num_segments=2)
    store.ingest_snapshot(spark.createDataFrame([(5, 50), (45, 450)], schema), version=2)
    parts = []
    for root, _dirs, files in os.walk(store.stable_path()):
        for f in files:
            if f.startswith("part-") and f.endswith(".parquet"):
                parts.append(f)
                assert f".{f}.crc" in files, f"{root}/{f} has no checksum file"
    assert len(parts) >= 3  # the seed's segments plus the ingested files
    assert {r[HANDLE]: r.v for r in store.read().collect()}[45] == 450


# --- a read node with a write-node tail answers like the write node --------

ROW_SCHEMA = f"{HANDLE} long, v long, tag string, body string, emb array<double>"
Q = [1.0, 0.0, 0.0, 0.0]


def _row(h):
    words = "quick brown fox" if h % 3 == 0 else "lazy dog"
    return (h, h * 10, f"t{h % 5}", f"doc{h} {words}",
            [1.0 + h % 4, 0.5 * (h % 3), 0.2 * (h % 5), 0.1 * h])


@pytest.fixture(scope="module")
def nodes(spark, tmp_path_factory):
    """A 40-row write node in 4 range segments with a zone map, an
    inverted, a full-text and a vector index, checkpointed at watermark 2
    (its delta then holds one update), and a read node tailing it. The
    tail moves row 7 into every predicate's match set, adds row 100 with
    a NULL ``v``, deletes row 3 and range-deletes [20, 24)."""
    base = tmp_path_factory.mktemp("rn_tail")
    wn = DeltaStore(spark, str(base / "wn"))
    wn.write_batch(spark.createDataFrame([_row(h) for h in range(40)], ROW_SCHEMA), version=1)
    wn.compact_range_segments(ts=1, num_segments=4)
    wn.build_zonemap(["v"])
    wn.build_inverted_index(["tag"])
    wn.build_fulltext_index("body")
    wn.build_vector_index("emb", n_centroids=2)
    wn.write_batch(spark.createDataFrame([(1, 15, "t1", "doc1 lazy dog", [2.0, 0.0, 0.0, 0.0])],
                                         ROW_SCHEMA), version=2)
    remote = str(base / "s3")
    rs.checkpoint(wn, remote, version=2)
    rn = ReadNodeStore(spark, remote, tail_from=wn)
    wn.write_batch(spark.createDataFrame([
        (7, 1000, "t9", "doc7 quick tail fox", Q),
        (100, None, "t9", "quick brand new fox", [2.0, 0.0, 0.0, 0.0]),
    ], ROW_SCHEMA), version=3)
    wn.write_batch(spark.createDataFrame([_row(3)], ROW_SCHEMA), version=4, delete=True)
    wn.delete_range(20, 24, version=5)
    return wn, rn


# (id, call, ranked): a ranked call's row order is compared too
READS = [
    ("read", lambda s: s.read(), False),
    ("read_at_watermark", lambda s: s.read(ts=2), False),
    ("read_range", lambda s: s.read_range(2, 30), False),
    ("read_handles", lambda s: s.read_handles([1, 3, 7, 21, 30, 100]), False),
    ("read_where", lambda s: s.read_where("v", 900, 1100), False),
    ("read_where_in", lambda s: s.read_where_in("tag", ["t9", "t2"]), False),
    ("read_where_null", lambda s: s.read_where_null("v"), False),
    ("read_late_conj", lambda s: s.read_late_conj([("v", 0, 2000), ("tag", ["t9", "t0"])]), False),
    ("fts_match_word", lambda s: s.fts_match_word("body", "quick"), False),
    ("fts_match_phrase", lambda s: s.fts_match_phrase("body", "quick tail fox"), False),
    ("fts_match_boolean",
     lambda s: s.fts_match_boolean("body", must=["fox"], should=["quick"], must_not=["brown"]),
     False),
    ("fts_match_where", lambda s: s.fts_match_where("body", "fox", [("tag", ["t9", "t0"])]), False),
    ("fts_search_scored", lambda s: s.fts_search_scored("body", "quick fox", k=6), True),
    ("fts_search_scored_preds",
     lambda s: s.fts_search_scored("body", "quick fox", k=6, preds=[("v", 0, 1000)]), True),
    ("ann_cosine", lambda s: s.ann_topk("emb", Q, k=3), True),
    ("ann_l2", lambda s: s.ann_topk("emb", Q, k=3, metric="l2"), True),
    ("ann_at_watermark", lambda s: s.ann_topk("emb", Q, k=3, ts=2), True),
    ("hybrid_search", lambda s: s.hybrid_search("body", "emb", "quick fox", Q, k=4), True),
]


@pytest.mark.parametrize("call,ranked", [r[1:] for r in READS], ids=[r[0] for r in READS])
def test_read_node_with_tail_answers_like_write_node(nodes, call, ranked):
    wn, rn = nodes
    want, got = call(wn), call(rn)
    assert got.columns == want.columns
    want, got = [tuple(r) for r in want.collect()], [tuple(r) for r in got.collect()]
    if not ranked:
        want, got = sorted(want, key=repr), sorted(got, key=repr)
    assert got == want


def test_read_node_view_with_tail_matches_write_node(spark, nodes):
    wn, rn = nodes
    wn.as_view("wn_full_v")
    rn.as_view("rn_full_v")
    got, want = (sorted(tuple(r) for r in spark.sql(f"SELECT {HANDLE}, v, tag FROM {v}").collect())
                 for v in ("rn_full_v", "wn_full_v"))
    assert got == want
    assert {h for h, _v, _t in got} >= {7, 100} and not {3, 20, 23} & {h for h, _v, _t in got}


# public DeltaStore methods that only read the store
_READ_METHODS = {
    "stable_path", "delta_path", "schema_version", "current_fields", "table_def",
    "handle_alias", "current_not_null", "current_gen", "current_defaults",
    "current_renames", "log", "newest_version", "max_handle", "read", "as_view",
    "read_handles", "read_handles_df", "read_range", "delta_rows", "read_where_null",
    "read_where", "named_indexes", "read_where_in", "read_late", "read_late_conj",
    "ann_topk", "fts_match_word", "fts_match_phrase", "fts_match_boolean",
    "fts_match_where", "fts_search_scored", "hybrid_search", "system_dt_segments",
    "system_dt_tables",
}


def _public_methods() -> set[str]:
    return {n for n in dir(DeltaStore)
            if not n.startswith("_") and callable(getattr(DeltaStore, n))}


def test_read_node_refuses_every_mutator(nodes):
    _wn, rn = nodes
    for name in sorted(_public_methods() - _READ_METHODS):
        with pytest.raises(ReadOnlyStoreError):
            getattr(rn, name)


def test_every_public_store_method_is_a_read_or_a_mutator():
    mutators = set(ReadNodeStore._MUTATORS)
    assert not mutators & _READ_METHODS
    assert _public_methods() == mutators | _READ_METHODS


def test_fts_reads_build_the_log_once(spark, tmp_path, monkeypatch):
    """The full-text prune state reads segmentation off the listing, so a
    match over an index that misses a segment builds the log once."""
    store = DeltaStore(spark, str(tmp_path / "fts"))
    store.write_batch(spark.createDataFrame([_row(h) for h in range(40)], ROW_SCHEMA), version=1)
    store.compact_range_segments(ts=1, num_segments=4)
    store.build_fulltext_index("body")
    meta = store._index_meta("fulltext")
    meta["body"]["segs"].remove(3)
    store._write_index_meta("fulltext", meta)
    builds = []
    log = DeltaStore.log
    monkeypatch.setattr(DeltaStore, "log", lambda self: builds.append(1) or log(self))
    word = store.fts_match_word("body", "quick")
    assert len(builds) == 1
    phrase = store.fts_match_phrase("body", "quick brown fox")
    assert len(builds) == 2
    want = {h for h in range(40) if h % 3 == 0}
    assert {r[HANDLE] for r in word.collect()} == {r[HANDLE] for r in phrase.collect()} == want
