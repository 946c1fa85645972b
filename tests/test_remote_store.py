"""Disaggregated storage/compute: checkpoint upload, stateless read
nodes, WN-tail freshness, FastAddPeer restore, checkpoint GC — the
Spark-side analogue of the reference's cloud-native architecture
(docs/design/2023-02-23-cloud-native-architecture.md,
Storages/S3/CheckpointManifestS3Set.h, DeltaMerge/Remote/DisaggSnapshot.h)."""

from __future__ import annotations

import pytest

# long replay/property/parity sweep: excluded from the default run
# (pytest.ini addopts); scripts/full_suite.sh runs everything
pytestmark = pytest.mark.slow

import os

import pytest

from pyspark.sql import Row

from tiflash_spark.operators.mvcc import HANDLE
from tiflash_spark.sources.delta_store import DeltaStore
from tiflash_spark.sources import remote_store as rs
from tiflash_spark.sources.remote_store import ReadNodeStore, ReadOnlyStoreError


def _rows(spark, items):
    return spark.createDataFrame([Row(**{HANDLE: h, "v": v}) for h, v in items])


def _snap(store, ts=None):
    return {r[HANDLE]: r.v for r in store.read(ts).collect()}


@pytest.fixture()
def wn(spark, tmp_path):
    """A write node with a compacted stable layer + a delta tail."""
    store = DeltaStore(spark, str(tmp_path / "wn"))
    store.write_batch(_rows(spark, [(h, h * 10) for h in range(50)]), version=1)
    store.compact_range_segments(ts=1, num_segments=4)
    store.write_batch(_rows(spark, [(3, 333), (60, 600)]), version=2)
    return store


def test_read_node_matches_write_node(spark, wn, tmp_path):
    remote = str(tmp_path / "s3")
    m = rs.checkpoint(wn, remote, version=2)
    assert m["v"] == 1 and m["watermark"] == 2
    rn = ReadNodeStore(spark, remote)
    assert _snap(rn) == _snap(wn)
    # historical MVCC snapshot served identically from the checkpoint
    assert _snap(rn, ts=1) == _snap(wn, ts=1)


def test_read_node_is_pinned_until_refresh(spark, wn, tmp_path):
    remote = str(tmp_path / "s3")
    rs.checkpoint(wn, remote, version=2)
    rn = ReadNodeStore(spark, remote)
    before = _snap(rn)
    # WN keeps writing after the upload: the pinned snapshot must not move
    wn.write_batch(_rows(spark, [(3, 3333), (70, 700)]), version=3)
    assert _snap(rn) == before
    # a new checkpoint + refresh re-pins
    rs.checkpoint(wn, remote, version=3)
    m = rn.refresh()
    assert m["v"] == 2
    assert _snap(rn) == _snap(wn)


def test_tail_fetch_gives_read_your_writes(spark, wn, tmp_path):
    remote = str(tmp_path / "s3")
    rs.checkpoint(wn, remote, version=2)
    rn = ReadNodeStore(spark, remote, tail_from=wn)
    wn.write_batch(_rows(spark, [(3, 3333), (70, 700)]), version=3)
    assert _snap(rn) == _snap(wn)  # fresh rows merged from the WN delta
    # a delete in the tail masks a checkpointed row
    wn.write_batch(_rows(spark, [(5, 0)]), version=4, delete=True)
    assert 5 not in _snap(rn)
    # and a range tombstone newer than the watermark applies too
    wn.delete_range(10, 20, version=5)
    got = _snap(rn)
    assert all(h not in got for h in range(10, 20))
    assert got == _snap(wn)
    # historical read below the tail still matches
    assert _snap(rn, ts=2) == _snap(wn, ts=2)


def test_read_node_rejects_mutation(spark, wn, tmp_path):
    remote = str(tmp_path / "s3")
    rs.checkpoint(wn, remote, version=2)
    rn = ReadNodeStore(spark, remote)
    with pytest.raises(ReadOnlyStoreError):
        rn.write_batch(_rows(spark, [(1, 1)]), version=9)
    with pytest.raises(ReadOnlyStoreError):
        rn.compact(ts=9)
    with pytest.raises(ReadOnlyStoreError):
        rn.delete_range(0, 1, version=9)
    with pytest.raises(ReadOnlyStoreError):
        rn.maintain()


def test_read_node_pruned_reads_work_from_checkpoint(spark, wn, tmp_path):
    remote = str(tmp_path / "s3")
    rs.checkpoint(wn, remote, version=2)
    rn = ReadNodeStore(spark, remote)
    got = {r[HANDLE]: r.v for r in rn.read_range(10, 20).collect()}
    assert got == {h: h * 10 for h in range(10, 20)}
    one = rn.read_handles([7]).collect()
    assert len(one) == 1 and one[0].v == 70


def test_checkpoint_crash_before_manifest_is_invisible(spark, wn, tmp_path):
    remote = str(tmp_path / "s3")
    rs.checkpoint(wn, remote, version=2)
    wn.write_batch(_rows(spark, [(3, 3333)]), version=3)
    for point in ("ckpt_staged", "ckpt_renamed"):
        wn.failpoints = {point}
        with pytest.raises(RuntimeError, match=point):
            rs.checkpoint(wn, remote, version=3)
        wn.failpoints = set()
        # the commit point is the manifest: read nodes still pin v1
        assert rs.latest_manifest(remote, "store_1")["v"] == 1
        rn = ReadNodeStore(spark, remote)
        assert 3333 not in _snap(rn).values()
    # the next successful upload sweeps the orphan dirs and commits
    m = rs.checkpoint(wn, remote, version=3)
    assert m["v"] == 2
    sdir = os.path.join(remote, "store_1")
    dirs = {n for n in os.listdir(sdir) if os.path.isdir(os.path.join(sdir, n))}
    assert dirs == {"ckpt_v1", "ckpt_v2"}


def test_checkpoints_share_unchanged_files(wn, tmp_path):
    remote = str(tmp_path / "s3")
    rs.checkpoint(wn, remote, version=2)
    rs.checkpoint(wn, remote, version=2)  # nothing changed in between
    sdir = os.path.join(remote, "store_1")

    def inodes(ck):
        out = {}
        for root, _d, files in os.walk(os.path.join(sdir, ck, "stable")):
            for f in files:
                rel = os.path.relpath(os.path.join(root, f), os.path.join(sdir, ck))
                out[rel] = os.stat(os.path.join(root, f)).st_ino
        return out

    a, b = inodes("ckpt_v1"), inodes("ckpt_v2")
    assert a and a == b  # same inodes: uploaded once, referenced twice


def test_restore_store_is_writable_fap(spark, wn, tmp_path):
    remote = str(tmp_path / "s3")
    rs.checkpoint(wn, remote, version=2)
    restored = rs.restore_store(spark, remote, "store_1", str(tmp_path / "wn2"))
    assert _snap(restored) == _snap(wn)
    restored.write_batch(_rows(spark, [(99, 9900)]), version=3)
    assert _snap(restored)[99] == 9900
    # the original WN and the remote checkpoint are untouched
    assert 99 not in _snap(wn) or _snap(wn)[99] != 9900
    rn = ReadNodeStore(spark, remote)
    assert 99 not in _snap(rn)
    # and the restored node can re-checkpoint under its own id
    rs.checkpoint(restored, remote, store_id="store_2", version=3)
    rn2 = ReadNodeStore(spark, remote, store_id="store_2")
    assert _snap(rn2)[99] == 9900


def test_gc_checkpoints_keeps_newest(spark, wn, tmp_path):
    remote = str(tmp_path / "s3")
    for v in (2, 2, 2):
        rs.checkpoint(wn, remote, version=v)
    assert rs.gc_checkpoints(remote, "store_1", keep=1) == 2
    ms = rs.list_manifests(remote, "store_1")
    assert [m["v"] for m in ms] == [3]
    rn = ReadNodeStore(spark, remote)
    assert _snap(rn) == _snap(wn)


def test_checkpoint_carries_schema_evolution(spark, tmp_path):
    store = DeltaStore(spark, str(tmp_path / "wn_ddl"))
    store.write_batch(_rows(spark, [(1, 10), (2, 20)]), version=1)
    store.add_column("tag", "string")
    remote = str(tmp_path / "s3")
    rs.checkpoint(store, remote, version=1)
    rn = ReadNodeStore(spark, remote)
    assert rn.schema_version() == store.schema_version()
    got = rn.read().orderBy(HANDLE).collect()
    assert [r.tag for r in got] == [None, None]  # pre-DDL rows read as NULL


def test_remote_compaction_worker_and_adoption(spark, wn, tmp_path):
    """Compaction offload round-trip: worker compacts the checkpoint in
    scratch space, WN adopts the stable layer + keeps only its
    post-watermark tail; results identical before/after, fold work done
    off-node."""
    remote = str(tmp_path / "s3")
    wn.delete_range(30, 35, version=2)          # applied physically by worker
    rs.checkpoint(wn, remote, version=2)
    wn.write_batch(_rows(spark, [(3, 7777), (80, 800)]), version=3)  # tail
    wn.delete_range(40, 42, version=4)          # tombstone after upload
    before = _snap(wn)
    m = rs.remote_compact(spark, remote, "store_1", ts=2,
                          work_dir=str(tmp_path / "scratch"), num_segments=4)
    assert m["compacted"] and m["v"] == 2 and m["watermark"] == 2
    epoch0 = wn._superblock()["epoch"]
    new_epoch = rs.adopt_remote_compaction(wn, remote, "store_1")
    assert new_epoch == epoch0 + 1
    assert _snap(wn) == before
    # the adopted delta holds ONLY the post-watermark tail
    assert wn.delta_rows() == 2
    # tombstones: <= safe-point applied physically, newer ones survive
    assert all(h not in _snap(wn) for h in range(30, 35))
    assert all(h not in _snap(wn) for h in range(40, 42))
    # WN remains fully functional: new writes and a local compact
    wn.write_batch(_rows(spark, [(500, 5000)]), version=5)
    assert _snap(wn)[500] == 5000
    wn.compact(ts=5, num_segments=4)
    assert _snap(wn)[500] == 5000 and 3 in _snap(wn)


def test_adoption_rejected_after_local_swap(spark, wn, tmp_path):
    remote = str(tmp_path / "s3")
    rs.checkpoint(wn, remote, version=2)
    rs.remote_compact(spark, remote, "store_1", ts=2,
                      work_dir=str(tmp_path / "scratch"))
    wn.compact(ts=2)  # local swap bumps the epoch
    with pytest.raises(ValueError, match="cannot adopt"):
        rs.adopt_remote_compaction(wn, remote, "store_1")


def test_adoption_crash_keeps_old_snapshot(spark, wn, tmp_path):
    remote = str(tmp_path / "s3")
    rs.checkpoint(wn, remote, version=2)
    wn.write_batch(_rows(spark, [(3, 7777)]), version=3)
    rs.remote_compact(spark, remote, "store_1", ts=2,
                      work_dir=str(tmp_path / "scratch"))
    before = _snap(wn)
    for point in ("adopt_staged", "before_commit"):
        wn.failpoints = {point}
        with pytest.raises(RuntimeError, match=point):
            rs.adopt_remote_compaction(wn, remote, "store_1")
        wn.failpoints = set()
        reopened = DeltaStore(spark, wn.path)
        assert _snap(reopened) == before
    # and adoption still works afterwards
    assert rs.adopt_remote_compaction(wn, remote, "store_1") > 0
    assert _snap(wn) == before


def test_read_node_serves_index_backed_reads(spark, tmp_path):
    """Checkpoints carry the storage indexes (zone map, inverted index,
    vector index) inside the stable dir — a read node serves
    index-pruned and ANN reads with zero rebuild."""
    store = DeltaStore(spark, str(tmp_path / "wn_idx"))
    rows = [
        Row(**{HANDLE: i, "cat": f"c{i % 40}",
               "emb": [float(10 * (i % 4) == 10 * d) * 10.0 + (i % 7) * 0.1
                       for d in range(8)]})
        for i in range(400)
    ]
    store.write_batch(spark.createDataFrame(rows), version=1)
    store.compact_range_segments(ts=1, num_segments=4)
    store.build_inverted_index(["cat"])
    store.build_vector_index("emb")
    remote = str(tmp_path / "s3")
    rs.checkpoint(store, remote, version=1)
    rn = ReadNodeStore(spark, remote)
    want = {r[HANDLE] for r in store.read_where_in("cat", ["c7"]).collect()}
    assert {r[HANDLE] for r in rn.read_where_in("cat", ["c7"]).collect()} == want
    q = [10.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    want_ann = [r[HANDLE] for r in store.ann_topk("emb", q, k=5).collect()]
    assert [r[HANDLE] for r in rn.ann_topk("emb", q, k=5).collect()] == want_ann
    with pytest.raises(ReadOnlyStoreError):
        rn.build_inverted_index(["cat"])


def test_streaming_ingest_to_checkpoint_to_read_node(spark, tmp_path):
    """End-to-end disaggregated replication: a streaming source applies
    micro-batches into the write node (Raft-apply analogue), a
    checkpoint uploads, and a stateless read node serves the result —
    the full WN→S3→RN path from the design doc."""
    import json as _json

    from tiflash_spark.streaming.ingest import start_ingest

    src = str(tmp_path / "feed")
    os.makedirs(src)
    with open(os.path.join(src, "b1.json"), "w") as fh:
        for h in range(20):
            fh.write(_json.dumps({"_tidb_rowid": h, "v": h * 10, "del": False}) + "\n")
        fh.write(_json.dumps({"_tidb_rowid": 5, "v": 0, "del": True}) + "\n")
    wn2 = DeltaStore(spark, str(tmp_path / "wn_stream"))
    stream = (
        spark.readStream.schema("_tidb_rowid LONG, v LONG, del BOOLEAN")
        .json(src)
    )
    q = start_ingest(stream, wn2, str(tmp_path / "ckpt_stream"), delete_col="del")
    q.awaitTermination(60)
    remote = str(tmp_path / "s3")
    rs.checkpoint(wn2, remote)
    rn = ReadNodeStore(spark, remote)
    got = _snap(rn)
    assert got == {h: h * 10 for h in range(20) if h != 5}


def test_streaming_periodic_checkpoint_upload(spark, tmp_path):
    """Write node uploads a checkpoint every N micro-batches (the design
    doc's periodic S3 upload); read nodes see each upload after refresh."""
    import json as _json

    from tiflash_spark.streaming.ingest import start_ingest

    src = str(tmp_path / "feed")
    os.makedirs(src)
    for b in range(3):
        with open(os.path.join(src, f"b{b}.json"), "w") as fh:
            fh.write(_json.dumps({"_tidb_rowid": b, "v": b * 10}) + "\n")
    wn = DeltaStore(spark, str(tmp_path / "wn_up"))
    stream = (
        spark.readStream.schema("_tidb_rowid LONG, v LONG")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    remote = str(tmp_path / "s3")
    q = start_ingest(stream, wn, str(tmp_path / "ck"), remote_root=remote,
                     upload_every=1)
    q.awaitTermination(90)
    ms = rs.list_manifests(remote, "store_1")
    assert len(ms) == 3  # one upload per micro-batch
    rn = ReadNodeStore(spark, remote)
    assert _snap(rn) == _snap(wn) == {0: 0, 1: 10, 2: 20}


def test_tail_aware_ann_on_read_node(spark, tmp_path):
    """RN ANN with a write-node tail: a brand-new best vector written
    after the upload ranks first, a tail delete knocks out the old
    winner, and the pinned (no-tail) RN is unaffected."""
    dim = 8

    def vec(i):
        return [10.0 if d == i % 4 else 0.1 * ((i + d) % 5) for d in range(dim)]

    store = DeltaStore(spark, str(tmp_path / "wn_ann"))
    rows = [Row(**{HANDLE: i, "emb": vec(i)}) for i in range(200)]
    store.write_batch(spark.createDataFrame(rows), version=1)
    store.compact_range_segments(ts=1, num_segments=4)
    store.build_vector_index("emb")
    remote = str(tmp_path / "s3")
    rs.checkpoint(store, remote, version=1)
    q = [10.0] + [0.0] * (dim - 1)
    rn_pin = ReadNodeStore(spark, remote)
    rn_tail = ReadNodeStore(spark, remote, tail_from=store)
    before = [r[HANDLE] for r in rn_pin.ann_topk("emb", q, k=3).collect()]
    # tail: a perfect-match vector + delete the prior best
    store.write_batch(
        spark.createDataFrame([Row(**{HANDLE: 999, "emb": q})]), version=2
    )
    store.write_batch(
        spark.createDataFrame([Row(**{HANDLE: before[0], "emb": q})]),
        version=3, delete=True,
    )
    got = [r[HANDLE] for r in rn_tail.ann_topk("emb", q, k=3).collect()]
    assert got[0] == 999 and before[0] not in got
    assert len(got) == 3  # over-fetch refills k despite the delete
    # pinned RN still serves the checkpoint snapshot
    assert [r[HANDLE] for r in rn_pin.ann_topk("emb", q, k=3).collect()] == before


def test_tail_aware_pruned_reads(spark, wn, tmp_path):
    """Pruned reads with a WN tail: index-served from the checkpoint,
    with the tail read as delta — updates win, deletes drop, new rows
    appear, and newer range tombstones hide checkpointed rows; historical
    reads at the watermark stay pinned."""
    remote = str(tmp_path / "s3")
    rs.checkpoint(wn, remote, version=2)
    rn = ReadNodeStore(spark, remote, tail_from=wn)
    wn.write_batch(_rows(spark, [(12, 1200012), (70, 700)]), version=3)
    wn.write_batch(_rows(spark, [(15, 0)]), version=4, delete=True)
    wn.delete_range(44, 46, version=5)

    rng = {r[HANDLE]: r.v for r in rn.read_range(10, 80).collect()}
    want = {r[HANDLE]: r.v for r in wn.read_range(10, 80).collect()}
    assert rng == want
    assert rng[12] == 1200012 and rng[70] == 700
    assert 15 not in rng and 44 not in rng and 45 not in rng

    got = {r[HANDLE]: r.v for r in rn.read_handles([12, 15, 20]).collect()}
    assert got == {12: 1200012, 20: 200}

    # value-predicate read picks up the tail update's NEW value
    hv = {r[HANDLE]: r.v for r in rn.read_where("v", 1200000, 1300000).collect()}
    assert hv == {12: 1200012}
    # and the updated row leaves its OLD value's match set
    old = {r[HANDLE] for r in rn.read_where_in("v", [120, 150]).collect()}
    assert old == set()  # 12 updated away, 15 deleted

    # historical read at the watermark: pinned snapshot only
    hist = {r[HANDLE]: r.v for r in rn.read_range(10, 80, ts=2).collect()}
    assert hist == {r[HANDLE]: r.v for r in wn.read_range(10, 80, ts=2).collect()}
    assert hist[12] == 120 and 15 in hist and 44 in hist


def test_gc_of_pinned_checkpoint_recovers_via_refresh(spark, wn, tmp_path):
    """Operational contract: gc_checkpoints can remove a checkpoint an
    RN still pins (no distributed ref-counting, like S3 lifecycle
    rules); the RN's reads then fail fast and refresh() re-pins the
    newest surviving checkpoint."""
    remote = str(tmp_path / "s3")
    rs.checkpoint(wn, remote, version=2)
    rn = ReadNodeStore(spark, remote)
    wn.write_batch(_rows(spark, [(3, 3333)]), version=3)
    rs.checkpoint(wn, remote, version=3)
    rs.gc_checkpoints(remote, "store_1", keep=1)  # drops the pinned v1
    with pytest.raises(Exception):
        _snap(rn)  # pinned dir is gone: fail, never silently wrong
    rn.refresh()
    assert _snap(rn) == _snap(wn)


def test_ddl_after_checkpoint_with_tail_merge(spark, tmp_path):
    """WN runs DDL AFTER the upload and writes tail rows with the new
    column. A checkpoint WITH a schema manifest pins its schema version
    (tail rows conform, the post-upload column stays invisible until
    re-upload + refresh); a manifest-less checkpoint is legacy mode —
    reads surface whatever the merged files contain."""
    remote = str(tmp_path / "s3")
    # manifest-ful: DDL before upload snapshots the schema into _SCHEMA
    wn = DeltaStore(spark, str(tmp_path / "wn_ddl2"))
    wn.write_batch(_rows(spark, [(1, 10), (2, 20)]), version=1)
    wn.add_column("pre", "int")
    rs.checkpoint(wn, remote, version=1)
    rn = ReadNodeStore(spark, remote, tail_from=wn)
    wn.add_column("tag", "string")
    wn.write_batch(
        spark.createDataFrame(
            [(3, 30, None, "x")], f"{HANDLE} long, v long, pre int, tag string"
        ),
        version=2,
    )
    got = rn.read().orderBy(HANDLE).collect()
    assert [r[HANDLE] for r in got] == [1, 2, 3]
    assert "tag" not in rn.read().columns  # checkpoint schema version pinned
    rs.checkpoint(wn, remote, version=2)
    rn.refresh()
    got2 = {r[HANDLE]: r.tag for r in rn.read().collect()}
    assert got2 == {1: None, 2: None, 3: "x"}
    # manifest-less: legacy mode, merged files define the visible schema
    wn2 = DeltaStore(spark, str(tmp_path / "wn_legacy"))
    wn2.write_batch(_rows(spark, [(1, 10)]), version=1)
    rs.checkpoint(wn2, str(tmp_path / "s3b"), version=1)
    rn2 = ReadNodeStore(spark, str(tmp_path / "s3b"), tail_from=wn2)
    wn2.write_batch(
        spark.createDataFrame([(2, 20, "y")], f"{HANDLE} long, v long, tag string"),
        version=2,
    )
    # legacy visible schema is SAMPLED by Spark when delta files mix
    # schemas (no manifest → no mergeSchema): tag may or may not appear.
    # The deterministic contract is row membership and shared columns —
    # the schema manifest (first half above) is the cure for the rest.
    got3 = {r[HANDLE]: r.v for r in rn2.read().collect()}
    assert got3 == {1: 10, 2: 20}


# --- object-store remote (pyarrow fs) + read-node FileCache ------------------


@pytest.fixture()
def arrow_remote(tmp_path):
    from pyarrow import fs as pafs

    root = str(tmp_path / "objstore")
    os.makedirs(root)
    return rs.ArrowFsRemote(pafs.LocalFileSystem(), root)


def test_object_store_checkpoint_and_cached_read_node(spark, wn, tmp_path, arrow_remote):
    """Upload through the pyarrow-fs remote (PUT-only, no rename), then
    a read node syncs into its local FileCache and serves every read;
    a second refresh re-downloads only the delta since the last pin."""
    m = rs.checkpoint(wn, arrow_remote, version=2)
    assert m["v"] == 1
    cache = str(tmp_path / "rn_cache")
    rn = ReadNodeStore(spark, arrow_remote, cache_dir=cache)
    assert _snap(rn) == _snap(wn)
    got = {r[HANDLE]: r.v for r in rn.read_range(10, 20).collect()}
    assert got == {h: h * 10 for h in range(10, 20)}
    first_downloads = rn.last_sync_downloads
    assert first_downloads > 0
    # WN appends one small batch and re-uploads: the refresh reuses the
    # unchanged stable files from the cached previous checkpoint
    wn.write_batch(_rows(spark, [(3, 3333)]), version=3)
    rs.checkpoint(wn, arrow_remote, version=3)
    rn.refresh()
    assert rn.last_sync_downloads < first_downloads  # FileCache dedup
    assert _snap(rn)[3] == 3333
    # cache_dir is mandatory for object-store read nodes
    with pytest.raises(ValueError, match="cache_dir"):
        ReadNodeStore(spark, arrow_remote)


def test_object_store_crash_and_gc(spark, wn, arrow_remote, tmp_path):
    """Manifest-last commit on the object store: a crash between upload
    and manifest leaves orphan objects the next upload sweeps."""
    rs.checkpoint(wn, arrow_remote, version=2)
    wn.failpoints = {"ckpt_renamed"}  # after upload, before manifest
    with pytest.raises(RuntimeError, match="ckpt_renamed"):
        rs.checkpoint(wn, arrow_remote, version=2)
    wn.failpoints = set()
    assert rs.latest_manifest(arrow_remote, "store_1")["v"] == 1
    m = rs.checkpoint(wn, arrow_remote, version=2)
    assert m["v"] == 2
    names = set(arrow_remote.listdir("store_1"))
    assert {"ckpt_v1", "ckpt_v2"} <= names and not any(
        n.startswith("_upload") or n.startswith("ckpt_v2_") for n in names
    )
    assert rs.gc_checkpoints(arrow_remote, "store_1", keep=1) == 1
    assert [x["v"] for x in rs.list_manifests(arrow_remote, "store_1")] == [2]


def test_object_store_fap_restore_and_remote_compact(spark, wn, tmp_path, arrow_remote):
    """FastAddPeer download-restore + the full compaction-worker cycle
    over the object-store remote, ending in WN adoption."""
    rs.checkpoint(wn, arrow_remote, version=2)
    restored = rs.restore_store(spark, arrow_remote, "store_1",
                                str(tmp_path / "fap"))
    assert _snap(restored) == _snap(wn)
    restored.write_batch(_rows(spark, [(77, 770)]), version=3)
    assert _snap(restored)[77] == 770
    m = rs.remote_compact(spark, arrow_remote, "store_1", ts=2,
                          work_dir=str(tmp_path / "scratch"), num_segments=4)
    assert m["compacted"]
    before = _snap(wn)
    rs.adopt_remote_compaction(wn, arrow_remote, "store_1")
    assert _snap(wn) == before and wn.delta_rows() == 0


def test_checkpoint_carries_tabledef_and_index_registry(spark, tmp_path):
    """A CREATEd table's pk alias (_TABLEDEF) and index-name registry
    (_INDEXES) survive checkpoint -> restore, so a restored peer serves
    the same SQL surface (pk-named view, DROP INDEX by name)."""
    from tiflash_spark.sources.admin_sql import run_sql
    from tiflash_spark.sources.remote_store import checkpoint, restore_store

    stores = {}
    run_sql(
        spark,
        "CREATE TABLE ckpt_t (pk BIGINT NOT NULL, i INT, PRIMARY KEY CLUSTERED (pk))",
        stores, base_path=str(tmp_path / "wn"),
    )
    store = stores["ckpt_t"]
    run_sql(spark, "INSERT INTO ckpt_t VALUES (1, 10), (2, 20)", stores)
    store.compact(ts=store.newest_version(), num_segments=2)
    run_sql(spark, "ALTER TABLE ckpt_t ADD COLUMNAR INDEX idx_i (i) USING INVERTED",
            stores)
    remote = str(tmp_path / "s3")
    checkpoint(store, remote, "ckpt_t")
    restored = restore_store(spark, remote, "ckpt_t", str(tmp_path / "peer"))
    assert restored.handle_alias() == "pk"
    assert set(restored.named_indexes()) == {"idx_i"}
    restored.as_view("ckpt_peer")
    got = {r.pk: r.i for r in spark.sql("SELECT * FROM ckpt_peer").collect()}
    assert got == {1: 10, 2: 20}
    # DROP INDEX by name works on the restored peer
    run_sql(spark, "ALTER TABLE ckpt_peer DROP INDEX idx_i", {"ckpt_peer": restored})
    assert restored.named_indexes() == {}
