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
  DisaggSnapshot): all reads — full MVCC scans, handle/range/equality
  pruned reads, ANN — serve that immutable snapshot with the exact
  same code paths as a local store, because the checkpoint IS a valid
  store directory. ``refresh()`` re-pins; ``tail_from=<write node>``
  additionally merges the WN's delta rows and range tombstones NEWER
  than the checkpoint watermark into full reads, the RN→WN memtable
  fetch from the design doc.
- ``restore_store`` is FastAddPeer: materialize a brand-new WRITABLE
  write node from the latest checkpoint in O(hardlink) time.

Scale notes: a checkpoint never reads or shuffles data (pure metadata +
link/copy of immutable files); read nodes scale horizontally because
they hold no state beyond the pinned manifest; the watermark guarantees
tail-merge correctness (a delta row is merged from the WN iff its
commit version is strictly above what the checkpoint already contains,
so a row is never double-counted — MVCC winner-pick dedups the overlap
anyway, making the filter an optimization AND a correctness fence for
delete tombstones).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiflash_spark.operators.mvcc import HANDLE, VERSION
from tiflash_spark.sources.delta_store import DeltaStore, register_view


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


class ReadNodeStore:
    """A stateless read node: serves MVCC reads from a pinned remote
    checkpoint (DisaggSnapshot analogue). All pruned/indexed read paths
    of :class:`DeltaStore` work unchanged because the checkpoint is a
    complete store directory; mutations raise :class:`ReadOnlyStoreError`.

    ``tail_from``: the live write node. Reads then merge the WN's delta
    rows and range tombstones with commit version strictly above the
    checkpoint watermark — the design doc's "RN asks WN for the
    memtable tail" — giving read-your-writes freshness without
    re-uploading. Pruned/indexed reads stay index-served from the
    checkpoint and post-merge the (small) tail at result level
    (``_tail_merge``); ANN over-fetches checkpoint candidates and
    re-scores through the merged view. Historical reads at or below the
    watermark are served wholly by the pinned snapshot.
    """

    _MUTATORS = (
        "write_batch", "delete_range", "compact", "compact_range_segments",
        "compact_segments_incremental", "ingest_snapshot", "split_segment",
        "merge_segments", "maintain", "add_column", "drop_column",
        "build_zonemap", "build_inverted_index", "build_vector_index",
        "build_fulltext_index",
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
                self._ds = DeltaStore(self.spark, local)
            else:
                ckpt = os.path.join(
                    _store_dir(self.remote_root, self.store_id), m["dir"]
                )
                self._ds = DeltaStore(self.spark, ckpt)
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

    def _tail_state(self, ts: int | None) -> tuple[list, list[dict]]:
        """Handles and range tombstones the WN tail contributes beyond
        the checkpoint watermark (visible at ``ts``). Empty when there
        is no tail or the read is at/below the watermark — historical
        reads are served wholly by the pinned snapshot."""
        tail = self._tail_rows(ts)
        handles = (
            [] if tail is None
            else [r[HANDLE] for r in tail.select(HANDLE).distinct().collect()]
        )
        return handles, self._tail_dels(ts)

    def _tail_rows(self, ts: int | None) -> DataFrame | None:
        """The WN delta rows committed after the checkpoint watermark and
        visible at ``ts``; None without a tail or for a read at/below the
        watermark."""
        if self._tail is None or (ts is not None and ts <= self.watermark):
            return None
        tail = self._tail._layer("delta")
        if tail is None:
            return None
        flt = F.col(VERSION) > F.lit(self.watermark)
        if ts is not None:
            flt = flt & (F.col(VERSION) <= F.lit(ts))
        return tail.filter(flt)

    def _tail_dels(self, ts: int | None) -> list[dict]:
        """The WN range tombstones newer than the watermark, visible at
        ``ts``."""
        if self._tail is None or (ts is not None and ts <= self.watermark):
            return []
        return [
            d for d in self._tail._range_dels()
            if d["v"] > self.watermark and (ts is None or d["v"] <= ts)
        ]

    def _tail_merge(self, base: DataFrame, pred, ts: int | None) -> DataFrame:
        """Merge the WN tail into a pruned read's result: checkpoint
        rows of tail-touched handles are replaced by their tail-merged
        MVCC winners (updates win, deletes drop, new rows appear), and
        tombstones newer than the watermark hide checkpoint rows — every
        checkpoint row's version is <= the watermark, so a newer range
        tombstone covers it unconditionally within its handle range."""
        handles, dels = self._tail_state(ts)
        if not handles and not dels:
            return base
        out = base
        for d in dels:
            out = out.filter(
                ~((F.col(HANDLE) >= F.lit(d["lo"])) & (F.col(HANDLE) < F.lit(d["hi"])))
            )
        if handles:
            out = out.filter(~F.col(HANDLE).isin(handles))
            fresh = self.read(ts).filter(F.col(HANDLE).isin(handles)).filter(pred)
            out = out.unionByName(fresh)
        return out

    def read_range(self, lo, hi, ts: int | None = None) -> DataFrame:
        base = self._ds.read_range(lo, hi, ts)
        return self._tail_merge(
            base, (F.col(HANDLE) >= F.lit(lo)) & (F.col(HANDLE) < F.lit(hi)), ts
        )

    def read_handles(self, handles: list, ts: int | None = None) -> DataFrame:
        base = self._ds.read_handles(handles, ts)
        return self._tail_merge(base, F.col(HANDLE).isin(list(handles)), ts)

    def read_where(self, col: str, lo=None, hi=None, ts: int | None = None) -> DataFrame:
        base = self._ds.read_where(col, lo, hi, ts)
        pred = F.lit(True)
        if lo is not None:
            pred = pred & (F.col(col) >= F.lit(lo))
        if hi is not None:
            pred = pred & (F.col(col) <= F.lit(hi))
        return self._tail_merge(base, pred, ts)

    def read_where_in(self, col: str, values: list, ts: int | None = None) -> DataFrame:
        base = self._ds.read_where_in(col, values, ts)
        return self._tail_merge(base, F.col(col).isin(list(values)), ts)

    def ann_topk(self, col: str, query: list[float], k: int = 10, **kw) -> DataFrame:
        """Snapshot-consistent ANN over checkpoint ∪ write-node tail:
        the checkpoint index supplies candidates (over-fetched so tail
        deletes cannot under-fill k), the tail's handles are scored
        exactly, and everything is re-scored through the tail-merged
        MVCC view — updates win, deletes drop, brand-new vectors rank.
        This is the reference read-node model: index candidates + exact
        search of the un-indexed memtable, merged under one snapshot
        (DeltaMerge/Remote/RNSegmentInputStream + the vector-index
        delta-exact-search posture)."""
        if self._tail is None:
            return self._ds.ann_topk(col, query, k=k, **kw)
        from tiflash_spark.functions.vector import vec_cosine_similarity

        tail_handles, tail_dels = self._tail_state(None)
        base = self._ds.ann_topk(col, query, k=k * 4, **kw)
        if not tail_handles and not tail_dels:
            return base.limit(k)
        pool = list(
            dict.fromkeys([r[HANDLE] for r in base.select(HANDLE).collect()]
                          + tail_handles)
        )
        if not pool:
            return base.limit(0)
        qlit = F.array(*[F.lit(float(v)) for v in query])
        vis = self.read().filter(
            F.col(HANDLE).isin(pool) & F.col(col).isNotNull()
        )
        return (
            vis.select(
                HANDLE,
                F.round(
                    vec_cosine_similarity(
                        F.transform(F.col(col), lambda x: x.cast("double")), qlit
                    ),
                    6,
                ).alias("score"),
            )
            .orderBy(F.col("score").desc(), F.col(HANDLE))
            .limit(k)
        )

    def fts_match_word(self, col: str, word: str, ts: int | None = None) -> DataFrame:
        """Full-text match over checkpoint ∪ write-node tail: the pinned
        index prunes the checkpoint read; tail-touched handles are
        re-evaluated on their tail-merged winners with the same
        tokenizer (the FullTextIndex read-node posture — index hits +
        exact search of the un-indexed tail)."""
        from tiflash_spark.pipeline.fulltext import tokenize

        base = self._ds.fts_match_word(col, word, ts)
        return self._tail_merge(
            base, F.array_contains(tokenize(F.col(col)), word.lower()), ts
        )

    def fts_search_scored(
        self, col: str, query: str, k: int = 10, ts: int | None = None, **kw
    ) -> DataFrame:
        """BM25 search over checkpoint ∪ tail: checkpoint index supplies
        over-fetched candidates, tail handles join the pool, and the
        whole pool is re-scored on the tail-merged visible values (df /
        N / avgdl from the pinned index stats — scores for brand-new
        tail docs use the same checkpoint statistics, the reference's
        index-stats posture)."""
        handles, dels = self._tail_state(ts)
        if not handles and not dels:
            return self._ds.fts_search_scored(col, query, k=k, ts=ts, **kw)
        base = self._ds.fts_search_scored(col, query, k=k * 4, ts=ts, **kw)
        pool = list(
            dict.fromkeys([r[HANDLE] for r in base.select(HANDLE).collect()]
                          + handles)
        )
        if not pool:
            return base.limit(0)
        vis = self.read(ts).filter(F.col(HANDLE).isin(pool))
        return self._ds.fts_search_scored(
            col, query, k=k, ts=ts, vis_rows=vis, **kw
        )

    def read(self, ts: int | None = None, mode: str = "normal") -> DataFrame:
        """Snapshot read at ``ts`` over checkpoint ∪ write-node tail: the
        checkpoint store's own read step over both logs, with the tail's
        range tombstones added to the checkpoint's."""
        log = self._ds.log()
        tail = self._tail_rows(ts)
        if tail is not None:
            log = log.unionByName(tail, allowMissingColumns=True)
        return self._ds._visible(log, ts, mode, dels=self._tail_dels(ts))

    as_view = register_view
