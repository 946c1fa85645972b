"""DeltaStore layer metadata comes from the store's own files: each
layer's schema is inferred once per version of its files, or once per
written schema when every footer carries the same one; segment ids are
read off the listing and the delta's size off the parquet footers. A warm
snapshot view, lookup or below-threshold maintain therefore builds
without running a Spark job, on a read node with a write-node tail too,
and a new file still shows on the next read."""

from __future__ import annotations

import os
import uuid

from tiflash_spark import cache
from tiflash_spark.operators.mvcc import HANDLE
from tiflash_spark.sources import remote_store as rs
from tiflash_spark.sources.delta_store import DeltaStore

SCHEMA = f"{HANDLE} long, v long, price double"


def _batch(spark, handles, v):
    return spark.createDataFrame([(h, v, h * 1.5) for h in handles], SCHEMA)


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"delta-meta-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "delta store metadata")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _segmented_store(spark, path):
    """200 handles in 4 range segments with a zone map, then a delta of
    upserts (190-210, v=2) and deletes (5, 6)."""
    store = DeltaStore(spark, path)
    store.write_batch(_batch(spark, range(1, 201), 1), version=1)
    store.compact_range_segments(ts=1, num_segments=4)
    store.build_zonemap(["v", "price"])
    store.write_batch(_batch(spark, range(190, 211), 2), version=2)
    store.write_batch(_batch(spark, [5, 6], 3), version=3, delete=True)
    return store


def test_warm_reads_and_noop_maintain_run_no_job(spark, tmp_path):
    store = _segmented_store(spark, str(tmp_path / "s"))
    assert store._all_seg_ids() == {0, 1, 2, 3}
    frames = {}

    def build():
        store.as_view("delta_meta_t", ts=3)
        frames["handles"] = store.read_handles([1, 5, 195, 209, 999], ts=3)
        frames["where"] = store.read_where("v", lo=2, ts=3)
        assert store.maintain(3, delta_threshold=10_000)["compacted"] is False

    build()  # warms the layer schema memo
    assert _jobs(spark, build) == 0
    prof = store.last_scan_profile
    assert prof["segments_pruned"] == 4 and prof["delta_rescue"]
    # the rescue keeps every delta winner from the pruned segments
    assert {r[HANDLE]: r.v for r in frames["where"].collect()} == {
        h: 2 for h in range(190, 211)
    }
    assert {r[HANDLE]: r.v for r in frames["handles"].collect()} == {1: 1, 195: 2, 209: 2}
    assert spark.table("delta_meta_t").count() == 200 - 2 + 10
    # a new delta file in the same written schema: the next view sees it
    # and infers nothing
    store.write_batch(_batch(spark, [500, 501], 4), version=4)
    assert _jobs(spark, lambda: store.as_view("delta_meta_t", ts=4)) == 0
    assert spark.table("delta_meta_t").count() == 210
    assert store.delta_rows() == 21 + 2 + 2
    after = {r[HANDLE]: r.v for r in store.read().collect()}
    assert len(after) == 210 and after[500] == after[501] == 4


def test_read_node_with_tail_builds_pruned_reads_without_a_job(spark, tmp_path):
    """The write-node tail is part of the read node's delta, so its
    range, handle and zone-map-pruned reads build like a local store's."""
    wn = _segmented_store(spark, str(tmp_path / "wn"))
    rs.checkpoint(wn, str(tmp_path / "s3"), version=3)
    rn = rs.ReadNodeStore(spark, str(tmp_path / "s3"), tail_from=wn)
    wn.write_batch(_batch(spark, [7, 150, 500], 4), version=4)
    wn.delete_range(100, 110, version=5)
    frames = {}

    def build(store):
        frames[store] = (
            store.read_range(90, 220),
            store.read_handles([1, 5, 7, 105, 195, 500]),
            store.read_where("v", lo=4),
        )

    build(rn)  # warms the layer schema memos of both nodes
    assert _jobs(spark, lambda: build(rn)) == 0
    build(wn)
    for got, want in zip(frames[rn], frames[wn]):
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert {r[HANDLE] for r in frames[rn][2].collect()} == {7, 150, 500}


def test_footer_delta_rows_match_layer_count(spark, tmp_path):
    store = DeltaStore(spark, str(tmp_path / "d"))
    assert store.delta_rows() == 0
    store.write_batch(_batch(spark, range(10), 1), version=1)
    store.write_batch(_batch(spark, range(5, 15), 2), version=2)
    store.write_batch(_batch(spark, [1, 2], 3), version=3, delete=True)
    # a handle-only delete batch is padded from the layer's schema
    store.write_batch(
        spark.createDataFrame([(3,)], f"{HANDLE} long"), version=4, delete=True
    )
    assert store.delta_rows() == store._layer("delta").count() == 23
    store.add_column("note", "string")
    store.write_batch(
        spark.createDataFrame([(20, 5, 1.0, "x")], SCHEMA + ", note string"), version=5
    )
    assert store.delta_rows() == store._layer("delta").count() == 24
    assert {r[HANDLE]: r.note for r in store.read().collect() if r.note} == {20: "x"}
    # a batch in a new written schema is inferred again: n2 shows
    store.add_column("n2", "int")
    store.write_batch(
        spark.createDataFrame([(21, 6, 1.0, "y", 7)], SCHEMA + ", note string, n2 int"),
        version=6,
    )
    assert {r[HANDLE]: r.n2 for r in store.read().collect() if r.n2} == {21: 7}


def test_layer_schema_memo_keeps_one_entry_per_layer(spark, tmp_path):
    store = DeltaStore(spark, str(tmp_path / "m"))
    for v in (1, 2, 3):
        store.write_batch(_batch(spark, range(10 * v, 10 * v + 10), v), version=v)
        assert store.read().count() == 10 * v
        store.compact(ts=v)
    assert store.read().count() == 30
    root = os.path.abspath(store.path)
    keys = [k for k in cache._MEMO if k[0] == "layer_schema" and k[1] == root]
    assert sorted(k[2] for k in keys) == ["delta", "stable"]
    footers = [k for k in cache._MEMO if k[0] == "layer_footers" and k[1] == root]
    assert sorted(k[2] for k in footers) == ["delta", "stable"]


def test_range_compaction_and_zonemap_job_counts(spark, tmp_path):
    """The htap-shaped store's maintenance jobs, pinned: a range
    compaction plus a two-column zone map, then one incremental compaction
    of a delta that touches two segments. Index kinds the store does not
    carry run no job. The counts were measured on the code before the
    index lifecycle was shared by the four kinds, and held after."""
    store = DeltaStore(spark, str(tmp_path / "jobs"))
    store.write_batch(_batch(spark, range(1, 201), 1), version=1)

    def build():
        store.compact_range_segments(ts=1, num_segments=4)
        store.build_zonemap(["v", "price"])

    assert _jobs(spark, build) == 12
    store.write_batch(_batch(spark, range(190, 211), 2), version=2)
    store.write_batch(_batch(spark, [5, 6], 3), version=3, delete=True)
    assert _jobs(spark, lambda: store.compact_segments_incremental(3)) == 7
    assert sorted(store._index_meta("zonemap")["segs"]) == ["0", "1", "2", "3"]
