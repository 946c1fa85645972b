"""Disaggregated storage/compute for DeltaStore (reference cloud-native
architecture).

Reference: TiFlash splits into **Write Nodes** (ingest Raft, flush the
DeltaTree locally, periodically upload everything to S3) and stateless
**Read Nodes** (pin a remote snapshot, query S3 data directly, ask the
WN only for the not-yet-uploaded memtable tail) —
docs/design/2023-02-23-cloud-native-architecture.md,
dbms/src/Storages/S3/CheckpointManifestS3Set.h (the manifest set: the
latest manifest defines which uploaded files form a consistent
snapshot), dbms/src/Storages/DeltaMerge/Remote/DisaggSnapshot.h (the
pinned per-query snapshot a read node resolves), RNSegmentInputStream /
RNDataProvider (read-node scans over remote segment data), and
FastAddPeer (a new write node bootstraps from the latest S3 checkpoint
instead of re-syncing the full region from upstream —
dbms/src/Storages/Page/V3/CheckpointFile/, FAP in
dbms/src/Storages/KVStore/MultiRaft/Disagg/FastAddPeer.cpp).

Spark-first model — the "remote object store" is a directory tree (in
production: S3A/an object-store filesystem; every operation below is
rename/immutable-file based so the layout maps 1:1 onto object keys):

- ``checkpoint(store, remote_root)`` uploads the write node's current
  layer snapshot as ``<root>/<store_id>/ckpt_v<N>/`` — a COMPLETE,
  self-describing, immutable DeltaStore directory (its own ``_CURRENT``
  superblock, stable+delta layers, schema manifest, zone-map /
  inverted-index / vector-index sidecars all inside). Files are
  hardlinked from the write node when possible, so an upload shares
  storage with the live store and with prior checkpoints instead of
  copying (the analogue of the reference's ref-pages / S3 object reuse:
  unchanged DMFiles are uploaded once and referenced by later
  manifests).
- ``manifest_v<N>.json`` is written LAST, atomically — the commit
  point, exactly like the reference's checkpoint-manifest upload
  protocol: a crash mid-upload leaves an orphan data dir that the next
  checkpoint sweeps, never a manifest naming missing files.
- ``ReadNodeStore`` pins the latest manifest at construction (a
  DisaggSnapshot): every read — full MVCC scans, handle/range/equality
  pruned reads, full-text and ANN — serves that immutable snapshot with
  the exact same code paths as a local store, because the checkpoint IS
  a valid store directory. ``refresh()`` re-pins; ``tail_from=<write
  node>`` is the RN→WN memtable fetch from the design doc: the WN's
  delta rows and range tombstones NEWER than the checkpoint watermark
  become part of the pinned store's delta, so the segment read path
  runs once over checkpoint ∪ tail — no read method merges the tail on
  its own.
- ``restore_store`` is FastAddPeer: materialize a brand-new WRITABLE
  write node from the latest checkpoint in O(hardlink) time.

Scale notes: a checkpoint never reads or shuffles data (pure metadata +
link/copy of immutable files); read nodes scale horizontally because
they hold no state beyond the pinned manifest; the watermark guarantees
tail correctness (a delta row or range tombstone is taken from the WN
iff its commit version is strictly above what the checkpoint already
contains, so a row is never double-counted — MVCC winner-pick dedups
the overlap anyway, making the filter an optimization AND a correctness
fence for delete tombstones).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiflash_spark.operators.mvcc import VERSION
from tiflash_spark.sources.delta_store import DeltaStore


# root-level store metadata shipped inside every checkpoint: the schema
# manifest, the CREATE-TABLE definition (pk/handle alias + declared
# order), and the index-name registry — a read node or restored peer
# without them would lose DDL visibility and DROP INDEX addressing
_ROOT_META = ("_SCHEMA", "_TABLEDEF", "_INDEXES")


class ReadOnlyStoreError(RuntimeError):
    """A mutation was attempted on a read node's pinned snapshot."""


class ArrowFsRemote:
    """A remote root on a pyarrow filesystem (S3FileSystem,
    GcsFileSystem, HadoopFileSystem, or LocalFileSystem for tests) —
    the minimal object-store surface the checkpoint protocol needs.
    Every operation is immutable-object + manifest-last, so the mapping
    to real object stores is PUT/GET/LIST/DELETE; no rename is ever
    required on the remote (staging happens on the WRITER'S local disk,
    and the manifest upload is the commit point).

    Spark executors never read through this class: read nodes SYNC a
    pinned checkpoint into a local cache directory first (the
    reference's read-node FileCache, Storages/S3/FileCache.h — "RN can
    use the local disk as an LRU cache") and serve every query from
    local parquet."""

    def __init__(self, fs, root: str):
        self.fs = fs
        self.root = root.rstrip("/")

    def _p(self, *parts: str) -> str:
        return "/".join((self.root, *[p.strip("/") for p in parts if p]))

    def listdir(self, rel: str = "") -> list[str]:
        from pyarrow import fs as pafs

        try:
            infos = self.fs.get_file_info(
                pafs.FileSelector(self._p(rel), recursive=False)
            )
        except (FileNotFoundError, OSError):
            return []
        return [i.path.rsplit("/", 1)[-1] for i in infos]

    def read_text(self, rel: str) -> str:
        with self.fs.open_input_stream(self._p(rel)) as f:
            return f.read().decode()

    def write_text(self, rel: str, data: str) -> None:
        # a single-object PUT is atomic on object stores; pyarrow's
        # local impl writes in place, which is fine because the
        # checkpoint protocol only ever writes a manifest ONCE
        target = self._p(rel)
        parent = target.rsplit("/", 1)[0]
        self.fs.create_dir(parent, recursive=True)
        with self.fs.open_output_stream(target) as f:
            f.write(data.encode())

    def delete(self, rel: str) -> None:
        try:
            self.fs.delete_file(self._p(rel))
        except (FileNotFoundError, OSError):
            pass

    def delete_tree(self, rel: str) -> None:
        try:
            self.fs.delete_dir(self._p(rel))
        except (FileNotFoundError, OSError):
            pass

    def upload_tree(self, local_src: str, rel_dst: str) -> None:
        for root_dir, _dirs, files in os.walk(local_src):
            rel = os.path.relpath(root_dir, local_src)
            for f in files:
                key = self._p(rel_dst, "" if rel == "." else rel, f)
                self.fs.create_dir(key.rsplit("/", 1)[0], recursive=True)
                with open(os.path.join(root_dir, f), "rb") as src_f, \
                        self.fs.open_output_stream(key) as dst_f:
                    shutil.copyfileobj(src_f, dst_f)

    def sync_tree_to_local(
        self, rel_src: str, local_dst: str, reuse_from: str | None = None
    ) -> int:
        """Download a checkpoint into a local cache dir, skipping files
        already present with a matching size, and hardlinking
        rel-path+size matches from ``reuse_from`` (a previously cached
        checkpoint) instead of re-downloading — the read-node FileCache
        dedup (Storages/S3/FileCache.h; 2026-03-24 disagg filecache-dedup
        design doc). Sound because checkpoint objects are immutable and
        unchanged layer files keep their names across uploads. Returns
        #files actually downloaded."""
        from pyarrow import fs as pafs

        base = self._p(rel_src)
        infos = self.fs.get_file_info(pafs.FileSelector(base, recursive=True))
        # the superblock lands LAST: an interrupted sync leaves a tree
        # the store constructor won't mistake for a complete snapshot
        infos = sorted(infos, key=lambda i: i.path.endswith("/_CURRENT"))
        copied = 0
        for i in infos:
            if i.type != pafs.FileType.File:
                continue
            rel = i.path[len(base):].lstrip("/")
            dst = os.path.join(local_dst, rel)
            if os.path.exists(dst) and os.path.getsize(dst) == i.size:
                continue
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if reuse_from is not None:
                cand = os.path.join(reuse_from, rel)
                if os.path.exists(cand) and os.path.getsize(cand) == i.size:
                    os.link(cand, dst)
                    continue
            with self.fs.open_input_stream(i.path) as src_f, open(dst, "wb") as dst_f:
                shutil.copyfileobj(src_f, dst_f)
            copied += 1
        return copied


def _link_or_copy_tree(src: str, dst: str) -> None:
    """Mirror ``src`` under ``dst``, hardlinking files when the
    filesystem allows (uploads share storage with the live store and
    with earlier checkpoints) and copying otherwise."""
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        tdir = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(tdir, exist_ok=True)
        for f in files:
            s, t = os.path.join(root, f), os.path.join(tdir, f)
            try:
                os.link(s, t)
            except OSError:
                shutil.copy2(s, t)


def _store_dir(remote_root: str, store_id: str) -> str:
    return os.path.join(remote_root, store_id)


def list_manifests(remote_root, store_id: str) -> list[dict]:
    """All committed checkpoint manifests, oldest → newest.
    ``remote_root``: a local directory path or an :class:`ArrowFsRemote`."""
    out = []
    if isinstance(remote_root, ArrowFsRemote):
        for name in remote_root.listdir(store_id):
            if name.startswith("manifest_v") and name.endswith(".json"):
                out.append(json.loads(remote_root.read_text(f"{store_id}/{name}")))
    else:
        d = _store_dir(remote_root, store_id)
        if not os.path.isdir(d):
            return []
        for name in sorted(os.listdir(d)):
            if name.startswith("manifest_v") and name.endswith(".json"):
                with open(os.path.join(d, name)) as fh:
                    out.append(json.load(fh))
    out.sort(key=lambda m: m["v"])
    return out


def latest_manifest(remote_root: str, store_id: str) -> dict | None:
    ms = list_manifests(remote_root, store_id)
    return ms[-1] if ms else None


def checkpoint(
    store: DeltaStore,
    remote_root: str,
    store_id: str = "store_1",
    version: int | None = None,
    extra: dict | None = None,
) -> dict:
    """Upload the write node's current snapshot as an immutable remote
    checkpoint; returns the committed manifest.

    ``version`` is the checkpoint watermark — the highest commit version
    the snapshot is known to contain (the reference records the Raft
    applied index per checkpoint). When omitted it is computed from the
    data with one small max() aggregate. The manifest write is the
    commit point; everything before it is invisible to read nodes.

    ``remote_root`` may be an :class:`ArrowFsRemote` (object store):
    the snapshot stages on the writer's LOCAL disk and uploads as
    immutable objects under final keys — no remote rename anywhere,
    manifest PUT last, orphan objects of crashed uploads swept by the
    next successful one.
    """
    remote = remote_root if isinstance(remote_root, ArrowFsRemote) else None
    committed = {m["dir"] for m in list_manifests(remote_root, store_id)}
    if remote is not None:
        for name in remote.listdir(store_id):
            if not name.startswith("manifest_v") and name not in committed:
                remote.delete_tree(f"{store_id}/{name}")
        # stale local staging dirs of hard-crashed uploads (the happy
        # and error paths both clean up; only a process kill leaves one)
        for name in os.listdir(store.path):
            if name.startswith("_upload_"):
                shutil.rmtree(os.path.join(store.path, name), ignore_errors=True)
    else:
        sdir = _store_dir(remote_root, store_id)
        os.makedirs(sdir, exist_ok=True)
        # sweep orphans of checkpoints that crashed before their manifest
        for name in os.listdir(sdir):
            full = os.path.join(sdir, name)
            if os.path.isdir(full) and name not in committed:
                shutil.rmtree(full, ignore_errors=True)

    if version is None:
        try:
            row = store.log().agg(F.max(F.col(VERSION)).alias("v")).collect()[0]
            version = int(row["v"]) if row["v"] is not None else 0
        except ValueError:  # empty store
            version = 0

    sb = store._superblock()
    prev = latest_manifest(remote_root, store_id)
    v = (prev["v"] + 1) if prev else 1
    ckpt_name = f"ckpt_v{v}"
    stage_parent = store.path if remote is not None else _store_dir(remote_root, store_id)
    stage = os.path.join(stage_parent, f"_upload_{uuid.uuid4().hex[:12]}")
    try:
        _link_or_copy_tree(store.stable_path(), os.path.join(stage, "stable"))
        _link_or_copy_tree(store.delta_path(), os.path.join(stage, "delta"))
        for meta in _ROOT_META:
            p = os.path.join(store.path, meta)
            if os.path.exists(p):
                shutil.copy2(p, os.path.join(stage, meta))
        # the checkpoint is itself a complete store directory: write its
        # superblock so read nodes open it with the ordinary store code
        with open(os.path.join(stage, "_CURRENT"), "w") as fh:
            json.dump({"epoch": sb["epoch"], "stable": "stable", "delta": "delta"}, fh)
        store._fail("ckpt_staged")
        if remote is not None:
            remote.upload_tree(stage, f"{store_id}/{ckpt_name}")
            shutil.rmtree(stage, ignore_errors=True)
        else:
            os.rename(stage, os.path.join(stage_parent, ckpt_name))
        store._fail("ckpt_renamed")
    except Exception:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    manifest = {
        "v": v,
        "dir": ckpt_name,
        "store_id": store_id,
        "wn_epoch": sb["epoch"],
        "watermark": version,
        "schema_version": store.schema_version(),
        **(extra or {}),
    }
    if remote is not None:
        remote.write_text(f"{store_id}/manifest_v{v}.json", json.dumps(manifest))
    else:
        mp = os.path.join(stage_parent, f"manifest_v{v}.json")
        tmp = mp + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, mp)  # commit point
    return manifest


def gc_checkpoints(remote_root, store_id: str, keep: int = 2) -> int:
    """Drop all but the newest ``keep`` checkpoints (manifest first, so
    a crash mid-GC leaves an unreferenced dir, never a dangling
    manifest). Hardlink sharing means deleting an old checkpoint only
    reclaims files no newer checkpoint references. Returns #removed."""
    ms = list_manifests(remote_root, store_id)
    drop = ms[:-keep] if keep > 0 else ms
    if isinstance(remote_root, ArrowFsRemote):
        for m in drop:
            remote_root.delete(f"{store_id}/manifest_v{m['v']}.json")
            remote_root.delete_tree(f"{store_id}/{m['dir']}")
    else:
        sdir = _store_dir(remote_root, store_id)
        for m in drop:
            os.remove(os.path.join(sdir, f"manifest_v{m['v']}.json"))
            shutil.rmtree(os.path.join(sdir, m["dir"]), ignore_errors=True)
    return len(drop)


def restore_store(
    spark: SparkSession, remote_root: str, store_id: str, dest_path: str
) -> DeltaStore:
    """FastAddPeer: materialize a new WRITABLE write node from the
    latest remote checkpoint — O(hardlink), no upstream re-sync. The
    restored store's first layer swap naturally un-shares it from the
    checkpoint (version dirs get fresh names; immutable files stay
    shared until GC'd on one side)."""
    m = latest_manifest(remote_root, store_id)
    if m is None:
        raise ValueError(f"no checkpoint for {store_id!r} under {remote_root}")
    if os.path.exists(dest_path) and os.listdir(dest_path):
        raise ValueError(f"restore target {dest_path!r} is not empty")
    os.makedirs(dest_path, exist_ok=True)
    if isinstance(remote_root, ArrowFsRemote):
        # object store: download to a staging dir, rename into place —
        # a crash mid-download never leaves a half tree at dest_path
        tmpd = dest_path.rstrip("/") + f"._sync_{uuid.uuid4().hex[:8]}"
        remote_root.sync_tree_to_local(f"{store_id}/{m['dir']}", tmpd)
        os.rmdir(dest_path)
        os.rename(tmpd, dest_path)
        return DeltaStore(spark, dest_path)
    ckpt = os.path.join(_store_dir(remote_root, store_id), m["dir"])
    stage_marker = os.path.join(dest_path, "_CURRENT")
    _link_or_copy_tree(os.path.join(ckpt, "stable"), os.path.join(dest_path, "stable"))
    _link_or_copy_tree(os.path.join(ckpt, "delta"), os.path.join(dest_path, "delta"))
    for meta in _ROOT_META:
        p = os.path.join(ckpt, meta)
        if os.path.exists(p):
            shutil.copy2(p, os.path.join(dest_path, meta))
    # superblock written LAST: a crash mid-restore leaves a dir the
    # DeltaStore constructor will adopt as legacy layers or that the
    # caller re-runs; never a superblock naming missing layers
    tmp = stage_marker + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"epoch": m["wn_epoch"], "stable": "stable", "delta": "delta"}, fh)
    os.replace(tmp, stage_marker)
    return DeltaStore(spark, dest_path)


def remote_compact(
    spark: SparkSession,
    remote_root: str,
    store_id: str,
    ts: int,
    work_dir: str,
    num_segments: int | None = None,
) -> dict:
    """Compaction Worker (cloud-native design doc §Basic ideas #3 and
    Storages/S3/ remote-compaction flow): a STATELESS worker restores
    the latest checkpoint into scratch space, folds its delta into a
    fresh stable at GC-safe-point ``ts``, and uploads the result as the
    next checkpoint — marked ``compacted`` so the write node knows it
    can adopt the layer instead of redoing the merge. The worker never
    talks to the write node; its only shared state is the remote
    manifest set. Returns the committed manifest."""
    import shutil

    prev = latest_manifest(remote_root, store_id)
    if prev is None:
        raise ValueError(f"no checkpoint for {store_id!r} under {remote_root}")
    worker = restore_store(spark, remote_root, store_id, work_dir)
    if num_segments is not None:
        worker.compact_range_segments(ts=ts, num_segments=num_segments)
    else:
        worker.compact(ts=ts)
    try:
        return checkpoint(
            worker,
            remote_root,
            store_id,
            version=prev["watermark"],
            extra={
                "compacted": True,
                "safe_point": ts,
                "based_on": prev["v"],
                "base_wn_epoch": prev["wn_epoch"],
            },
        )
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def adopt_remote_compaction(
    store: DeltaStore, remote_root: str, store_id: str = "store_1"
) -> int:
    """Write node adopts a remotely-compacted checkpoint: the worker's
    stable layer is hardlinked in as the next local stable version and
    the local delta is rebuilt as only the tail written AFTER the
    checkpoint watermark — the fold work happened off-node, the WN pays
    one hardlink pass plus a (small) tail rewrite. Reference: the write
    node downloads/references the compacted S3 files and updates its
    local meta, it never re-merges (design doc "triggers remote
    compaction as appropriate"; FastAddPeer file-reference semantics).

    Preconditions (checked): the newest manifest is ``compacted`` and
    was based on THIS store's current epoch — a local layer swap since
    the upload invalidates adoption (versions written since the
    checkpoint must exceed its watermark, which monotonic commit
    versions guarantee). Returns the new epoch."""
    m = latest_manifest(remote_root, store_id)
    if m is None or not m.get("compacted"):
        raise ValueError("latest checkpoint is not a compacted one")
    sb = store._superblock()
    base_epoch = m.get("base_wn_epoch", m["wn_epoch"])
    if sb["epoch"] != base_epoch:
        raise ValueError(
            f"store epoch {sb['epoch']} != checkpoint base epoch "
            f"{base_epoch}: local swap since upload, cannot adopt"
        )
    wm = m["watermark"]
    stage_stable = store._stage_dir("adopt_stable")
    if isinstance(remote_root, ArrowFsRemote):
        # object store: the WN downloads the worker's compacted stable
        # ("migration is completed by downloading or referencing the S3
        # file directly" — cloud-native design doc)
        remote_root.sync_tree_to_local(f"{store_id}/{m['dir']}/stable", stage_stable)
    else:
        ckpt = os.path.join(_store_dir(remote_root, store_id), m["dir"])
        _link_or_copy_tree(os.path.join(ckpt, "stable"), stage_stable)
    # rebuild the delta as the post-watermark tail + surviving tombstones
    stage_delta = store._stage_dir("adopt_delta")
    os.makedirs(stage_delta, exist_ok=True)
    tail_dels = [d for d in store._range_dels() if d["v"] > m.get("safe_point", wm)]
    delta = store._layer("delta")
    if delta is not None:
        tail = delta.filter(F.col(VERSION) > F.lit(wm))
        tail.write.mode("append").parquet(stage_delta)
    if tail_dels:
        store._write_range_dels(tail_dels, delta_dir=stage_delta)
    store._fail("adopt_staged")
    store._promote(stage_stable, retire_delta=True, staged_delta=stage_delta)
    return store._superblock()["epoch"]


class _TailedCheckpoint(DeltaStore):
    """A pinned checkpoint whose delta also holds the write node's tail:
    the write node's delta rows and range tombstones committed after the
    checkpoint watermark. Every read of :class:`DeltaStore` then serves
    checkpoint ∪ tail through its own MVCC pick, delta rescue and
    delta-handle pool."""

    def __init__(self, spark: SparkSession, path: str, tail: DeltaStore,
                 watermark: int):
        super().__init__(spark, path)
        self._tail = tail
        self._watermark = watermark

    def _layer(self, name: str) -> DataFrame | None:
        own = super()._layer(name)
        tail = self._tail._layer(name) if name == "delta" else None
        if tail is None:
            return own
        tail = tail.filter(F.col(VERSION) > F.lit(self._watermark))
        return tail if own is None else own.unionByName(tail, allowMissingColumns=True)

    def _delta_has_files(self) -> bool:
        return super()._delta_has_files() or self._tail._delta_has_files()

    def _range_dels(self, delta_dir: str | None = None) -> list[dict]:
        own = super()._range_dels(delta_dir)
        if delta_dir is not None:
            return own
        return own + [d for d in self._tail._range_dels() if d["v"] > self._watermark]


class ReadNodeStore:
    """A stateless read node: serves MVCC reads from a pinned remote
    checkpoint (DisaggSnapshot analogue). Every read method of
    :class:`DeltaStore` works unchanged because the checkpoint is a
    complete store directory; mutations raise :class:`ReadOnlyStoreError`.

    ``tail_from``: the live write node. Its delta rows and range
    tombstones with commit version strictly above the checkpoint
    watermark — the design doc's "RN asks WN for the memtable tail" —
    are read as part of the pinned store's delta, giving read-your-writes
    freshness without re-uploading: full, pruned, index-served, ANN and
    full-text reads all see them through the store's own delta handling.
    Historical reads at or below the watermark see none of the tail, as
    every tail row and tombstone is newer than the read.
    """

    _MUTATORS = (
        "write_batch", "write_log_batch", "delete_range", "truncate_table",
        "compact", "compact_range_segments", "compact_segments_incremental",
        "ingest_snapshot", "split_segment", "merge_segments",
        "rebalance_segments", "maintain",
        "write_table_def", "update_table_def", "add_column", "drop_column",
        "rename_column", "modify_column", "set_column_nullable",
        "set_column_default", "add_generated_column",
        "build_zonemap", "build_inverted_index", "build_vector_index",
        "build_fulltext_index", "register_index_name", "drop_index",
        "drop_index_by_name",
    )

    def __init__(
        self,
        spark: SparkSession,
        remote_root,
        store_id: str = "store_1",
        tail_from: DeltaStore | None = None,
        cache_dir: str | None = None,
    ):
        self.spark = spark
        self.remote_root = remote_root
        self.store_id = store_id
        self._tail = tail_from
        self.cache_dir = cache_dir
        self.manifest: dict | None = None
        self._ds: DeltaStore | None = None
        self.refresh()

    def refresh(self) -> dict:
        """Re-pin the newest committed checkpoint. On an object-store
        remote the checkpoint syncs into ``cache_dir`` first (the read
        node's local FileCache, Storages/S3/FileCache.h) — files already
        cached with matching size are NOT re-downloaded, so refreshes
        pay only the delta since the last pinned checkpoint."""
        m = latest_manifest(self.remote_root, self.store_id)
        if m is None:
            raise ValueError(
                f"no checkpoint for {self.store_id!r} under {self.remote_root}"
            )
        if self.manifest is None or m["v"] != self.manifest["v"]:
            if isinstance(self.remote_root, ArrowFsRemote):
                if self.cache_dir is None:
                    raise ValueError(
                        "object-store read nodes need a local cache_dir "
                        "(the RN FileCache) to serve Spark scans from"
                    )
                local = os.path.join(self.cache_dir, self.store_id, m["dir"])
                prev_local = (
                    os.path.join(self.cache_dir, self.store_id, self.manifest["dir"])
                    if self.manifest is not None
                    else None
                )
                self.last_sync_downloads = self.remote_root.sync_tree_to_local(
                    f"{self.store_id}/{m['dir']}", local, reuse_from=prev_local
                )
            else:
                local = os.path.join(
                    _store_dir(self.remote_root, self.store_id), m["dir"]
                )
            self._ds = (
                DeltaStore(self.spark, local) if self._tail is None
                else _TailedCheckpoint(self.spark, local, self._tail, m["watermark"])
            )
            self.manifest = m
        return m

    @property
    def watermark(self) -> int:
        return self.manifest["watermark"]

    def __getattr__(self, name: str):
        # delegate the read/introspection surface of DeltaStore;
        # mutators are blocked by name, not by omission
        if name in ReadNodeStore._MUTATORS:
            raise ReadOnlyStoreError(
                f"{name} is a write-node operation; read nodes serve a "
                "pinned immutable checkpoint"
            )
        return getattr(self._ds, name)
