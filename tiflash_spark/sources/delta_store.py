"""DeltaStore: DeltaTree-style MVCC table on Parquet (SURVEY.md §1.5).

Reference architecture: a table = PK-range-partitioned Segments, each a
sorted/compacted **stable layer** (DMFile packs) plus a **delta layer** of
recent writes, merged at read time with MVCC version filtering
(dbms/src/Storages/DeltaMerge/DeltaMergeStore.h:107, Segment.cpp,
DeltaMerge.h). Hidden per-row columns: handle `_tidb_rowid`, commit
version `_INTERNAL_VERSION`, delete mark `_INTERNAL_DELMARK`
(dbms/src/Storages/MutableSupport.h:44-54).

Spark-first layout (crash-safe, versioned):
- ``stable_v<N>/`` — compacted parquet, one row per live handle, sorted
  by handle within files (row-group stats ≈ the pack min-max index);
  layout metadata (_SEGMENTS/_MANIFEST/_ZONEMAP/_STABLE_SCHEMA) lives
  INSIDE the version dir it describes.
- ``delta_v<K>/`` — append-only upsert/delete log parquet; each write
  job appends one batch directory, never rewrites.
- ``_CURRENT``    — superblock naming the live dirs; replaced atomically
  (tmp + os.replace) as the LAST step of every swap, so a crash at any
  point leaves a complete old or complete new snapshot, never half.
- read(ts)   — union(stable, delta) → window-dedup by handle on newest
  version <= ts, drop delmarks (operators/mvcc.py.snapshot_read).
- compact(ts)— fold delta into a staged stable version dir, promote via
  the _CURRENT swap, GC retired dirs after; incremental ops hardlink
  unchanged segment files into the next version (storage shared, never
  copied).

Scale notes: the delta tail stays small relative to stable (compaction
cadence controls it); snapshot reads shuffle only the delta+stable rows of
the handles being read after partition pruning. Writes are blind appends —
no read-modify-write, so streaming ingestion (streaming/ingest.py) needs
no locks, matching the reference's Raft-apply write path.

Handle types: int64 (`_tidb_rowid`) or a STRING common handle for
clustered-index tables (order-preserving composite-PK encoding,
sources/common_handle.py — reference `is_common_handle` paths and
tests/fullstack-test2/clustered_index/). Every mechanism works on both;
range-segment boundaries for string handles come from ntile at compaction
instead of width arithmetic, manifest bounds stay half-open and
lexicographic.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiflash_spark import cache
from tiflash_spark.operators.mvcc import DELMARK, HANDLE, VERSION, fast_scan, snapshot_read


_INTERNAL_COLS = (VERSION, DELMARK, "_seg")

# sentinel for update_table_def key removal (pk=None is a real value)
UNSET = object()

# the footer entry in which Spark's parquet writer stores the Spark schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _read_json(path: str, default=None):
    """A JSON sidecar's content, ``default`` when the file is absent."""
    if not os.path.exists(path):
        return default
    with open(path) as fh:
        return json.load(fh)


def _write_json(path: str, obj) -> None:
    """Replace a JSON sidecar atomically (tmp + os.replace): a crash
    mid-write leaves the old complete file, never a torn one — every
    read path parses these files."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


# --- segment indexes: one lifecycle for every kind ---------------------------
#
# Reference: TiFlash writes a segment's min-max, inverted, vector and
# full-text indexes into the DMFile they index, so one write commits a
# segment's data and all its indexes together. Spark-first: each kind
# keeps a meta file inside the stable version dir that says which
# segments it covers, plus (all but the zone map, whose min/max entries
# live in the meta itself) a posting dir per indexed column,
# ``<prefix><col>/_seg=K/``. Presence semantics for every kind: only a
# COVERED segment may be pruned; an absent entry means scan.
#
# The lifecycle is written once, over this table:
# - a segment rewrite stages every meta WITHOUT the touched segments into
#   the next version dir and leaves their posting partitions out of the
#   hardlink pass (``_stage_indexes``), so a crash after the pointer swap
#   leaves them uncovered, never stale;
# - after the swap, ``_refresh_indexes`` unregisters the touched segments
#   in the live meta, rewrites their rows, then re-registers them — a
#   crash anywhere leaves them merely unindexed, never stale-indexed
#   (which could wrongly prune);
# - a whole-stable rewrite rebuilds every index it carried
#   (``_rebuild_indexes``) from metas captured before the swap, since the
#   old version dir they lived in is retired.
# A kind with an empty meta is skipped before anything touches Spark.


def _segs_without(covered, segs: set[int]) -> list[int]:
    return sorted(set(covered) - segs)


def _forget_entry(meta: dict, col: str) -> dict:
    return {c: e for c, e in meta.items() if c != col}


class _IndexKind(NamedTuple):
    meta: str  # meta file inside the stable version dir
    prefix: str | None  # per-column posting dir; None: entries in the meta
    empty: Callable[[], dict | None]  # what an absent meta reads as
    covers: Callable  # meta -> {indexed column: covered segment ids}
    drop: Callable  # (meta, segment ids) -> meta without those segments
    forget: Callable  # (meta, column) -> meta without that column
    build: str  # method (meta, stable rows, segs, segs with rows) -> meta
    retrain: str | None = None  # method (meta, stable) -> meta, on rebuild


_INDEX_KINDS = {
    "zonemap": _IndexKind(
        "_ZONEMAP", None, lambda: None,
        covers=lambda zm: {
            c: {int(k) for k, e in zm["segs"].items() if c in e}
            for c in zm["cols"]
        },
        drop=lambda zm, segs: dict(zm, segs={
            k: e for k, e in zm["segs"].items() if int(k) not in segs
        }),
        forget=lambda zm, col: dict(
            zm,
            cols=_forget_entry(zm["cols"], col),
            segs={k: _forget_entry(e, col) for k, e in zm["segs"].items()},
        ),
        build="_zonemap_build",
    ),
    "inverted": _IndexKind(
        "_INVIDX", "_INVIDX_", dict,
        covers=lambda m: {c: set(v) for c, v in m.items()},
        drop=lambda m, segs: {c: _segs_without(v, segs) for c, v in m.items()},
        forget=_forget_entry,
        build="_inverted_build",
    ),
    "vector": _IndexKind(
        "_VECIDX", "_VECIDX_", dict,
        covers=lambda m: {c: set(e["segs"]) for c, e in m.items()},
        drop=lambda m, segs: {
            c: {**e, "segs": _segs_without(e["segs"], segs)} for c, e in m.items()
        },
        forget=_forget_entry,
        build="_vector_build",
        retrain="_vector_retrain",
    ),
    "fulltext": _IndexKind(
        "_FTSIDX", "_FTSIDX_", dict,
        covers=lambda m: {c: set(e["segs"]) for c, e in m.items()},
        drop=lambda m, segs: {
            c: {
                **e,
                "segs": _segs_without(e["segs"], segs),
                "stats": {k: v for k, v in e["stats"].items() if int(k) not in segs},
            }
            for c, e in m.items()
        },
        forget=_forget_entry,
        build="_fulltext_build",
    ),
}


def _render_dec65_cols(df: DataFrame, td: dict | None) -> DataFrame:
    """DECIMAL(p>38) columns (decimal65 tier — canonical-string storage,
    functions/decimal65.py): exposed as the clamped DECIMAL(38, min(s,10))
    until a value wider than the clamp has been written (dec65_wide),
    then as the exact canonical string — MySQL's rendering of the wide
    value, which the replay's value-level compare reads numerically."""
    d65 = (td or {}).get("dec65_cols") or {}
    wide = set((td or {}).get("dec65_wide") or [])
    for c, (p, s) in d65.items():
        if c not in df.columns or c in wide:
            continue
        cs = min(int(s), 10)
        df = df.withColumn(c, F.col(c).try_cast(f"decimal(38,{cs})"))
    return df


def _render_time_cols(df: DataFrame, td: dict | None) -> DataFrame:
    """MySQL renders TIME(p) with EXACTLY p fraction digits, and an
    fsp-changing MODIFY re-renders EXISTING rows at the new p — enlarge
    pads ('11:11:11' -> '11:11:11.000'), shrink drops the fraction
    (ddl/alter_column_datetime.test; the reference rewrites the data,
    same visible result). DATETIME/TIMESTAMP(p) rows shrink the same way
    (write-side rounding already enforces p for new rows)."""
    for c, p in ((td or {}).get("time_cols") or {}).items():
        if c not in df.columns:
            continue
        base = F.split(F.col(c), r"\.")
        if p:
            # canonical-minimal form: rounded at p on write, trailing
            # zeros stripped (comparisons are plain string equality;
            # display-precision unifies in the replay's duration compare)
            rendered = F.concat_ws(
                ".",
                base.getItem(0),
                F.nullif(
                    F.regexp_replace(
                        F.substring(
                            F.coalesce(F.element_at(base, 2), F.lit("")),
                            1, p,
                        ),
                        "0+$", "",
                    ),
                    F.lit(""),
                ),
            )
        else:
            rendered = base.getItem(0)
        df = df.withColumn(
            c, F.when(F.col(c).isNull(), F.lit(None)).otherwise(rendered)
        )
    for c, p in ((td or {}).get("dt_prec") or {}).items():
        if c not in df.columns or p >= 6:
            continue
        dt = dict(df.dtypes).get(c, "")
        if not dt.startswith("timestamp"):
            continue
        scale = 10 ** (6 - p)
        df = df.withColumn(
            c,
            F.expr(
                f"timestampadd(MICROSECOND,"
                f" CAST(round(CAST(date_format(`{c}`, 'SSSSSS') AS BIGINT)"
                f" / {scale}) AS BIGINT) * {scale}"
                f" - CAST(date_format(`{c}`, 'SSSSSS') AS BIGINT), `{c}`)"
            ),
        )
    return df


def register_view(store, name: str, ts: int | None = None,
                  mode: str = "normal") -> None:
    """Register ``store.read(ts, mode)`` as a temp view so spark.sql
    queries the replicated table by name — the TiDB-side `SELECT ...`
    over a TiFlash replica. It is ``as_view`` of DeltaStore,
    PartitionedStore and ReadNodeStore alike, so each view shows what
    that store's own read returns. Plan-time snapshot: re-register after
    mutations (or at a fixed ts for a stable-read view, the reference's
    stale read — docs/design/2023-02-21-tiflash-supports-stale-read.md).
    A declared PRIMARY KEY surfaces under its own name (the hidden
    rowid IS the clustered pk, MutableSupport.h:44); tables declared
    through CREATE TABLE without a clustered pk hide the auto rowid
    from the view, matching MySQL's `SELECT *` (TiDB exposes
    _tidb_rowid only when named explicitly — a temp view cannot
    express name-only visibility, and every reference script reads
    through `*` or declared names). Stores built directly against the
    DeltaStore API (no table def) keep the handle visible."""
    df = store.read(ts, mode=mode)
    td = store.table_def()
    alias = store.handle_alias()
    if alias:
        df = df.withColumnRenamed(HANDLE, alias)
    elif td is not None:
        df = df.drop(HANDLE)
    if td and td.get("order"):
        # SELECT * shows columns in DECLARED order — generated columns
        # sit at their declared position, not appended
        # (mpp/late_materialization_generate_column.test); columns ADDed
        # later follow in schema order
        first = [c for c in td["order"] if c in df.columns]
        rest = [c for c in df.columns if c not in first]
        if first and df.columns != first + rest:
            df = df.select(*(first + rest))
    df = _render_time_cols(df, td)
    _render_dec65_cols(df, td).createOrReplaceTempView(name)


class DeltaStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # failure-injection hook (reference FailPoint.h / the
        # fault-inject fullstack suites): tests add point names here and
        # mutation ops raise at that point, so crash-consistency is
        # provable at every step of a layer swap
        self.failpoints: set[str] = set()
        # last index-served read's scan profile (reference design doc
        # 2022-12-01-enrich-the-information-of-explain-analyze-for-
        # tablescan: per-scan rough-filter / prune detail shipped with
        # EXPLAIN ANALYZE). Plan-time numbers of the MOST RECENT
        # read_where/read_where_in/fts_* call on this store object.
        self.last_scan_profile: dict | None = None
        os.makedirs(path, exist_ok=True)
        if self._superblock() is None:
            legacy_stable = os.path.join(path, "stable")
            legacy_delta = os.path.join(path, "delta")
            if os.path.isdir(legacy_stable) or os.path.isdir(legacy_delta):
                # adopt a pre-superblock store: the legacy dir names
                # become version dirs; top-level layout sidecars move
                # into the stable dir where later versions keep them
                os.makedirs(legacy_stable, exist_ok=True)
                os.makedirs(legacy_delta, exist_ok=True)
                for m in ("_SEGMENTS", "_MANIFEST", "_ZONEMAP", "_STABLE_SCHEMA"):
                    src = os.path.join(path, m)
                    if os.path.exists(src):
                        os.replace(src, os.path.join(legacy_stable, m))
                sb = {"epoch": 0, "stable": "stable", "delta": "delta"}
            else:
                os.makedirs(os.path.join(path, "stable_v1"), exist_ok=True)
                os.makedirs(os.path.join(path, "delta_v1"), exist_ok=True)
                sb = {"epoch": 1, "stable": "stable_v1", "delta": "delta_v1"}
            self._commit_superblock(sb)

    # --- versioned layers / crash-safe superblock ---------------------------
    #
    # Reference: PageStorage gives every read an immutable snapshot and
    # commits meta changes atomically (dbms/src/Storages/Page/); the
    # fault-inject test suites (tests/fullstack-test/fault-inject/) prove
    # a crash mid-operation never exposes a half state. Spark-first
    # equivalent: layer data lives in versioned dirs (stable_v<N>/,
    # delta_v<K>/) whose files are immutable once the dir is promoted; a
    # single `_CURRENT` superblock file names the live dirs and is
    # replaced atomically (tmp + os.replace) as the LAST step of every
    # swap. Layout metadata (_SEGMENTS, _MANIFEST, _ZONEMAP,
    # _STABLE_SCHEMA) lives INSIDE the stable version dir it describes —
    # Spark ignores non-partition paths starting with "_" — so data and
    # metadata can never be observed out of sync. Old dirs are GC'd only
    # after the pointer moves; a crash at any point leaves `_CURRENT`
    # naming a complete old or complete new snapshot, plus at worst some
    # orphan dirs the next mutation sweeps.

    def _superblock(self) -> dict | None:
        return _read_json(os.path.join(self.path, "_CURRENT"))

    def _commit_superblock(self, sb: dict) -> None:
        p = os.path.join(self.path, "_CURRENT")
        tmp = p + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(sb, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, p)

    def stable_path(self) -> str:
        return os.path.join(self.path, self._superblock()["stable"])

    def delta_path(self) -> str:
        return os.path.join(self.path, self._superblock()["delta"])

    def _fail(self, point: str) -> None:
        if point in self.failpoints:
            raise RuntimeError(f"injected failure at {point!r}")

    def _stage_dir(self, tag: str = "stage") -> str:
        import uuid

        return os.path.join(self.path, f"_stage_{tag}_{uuid.uuid4().hex[:12]}")

    @staticmethod
    def _link_tree(src: str, dst: str, skip: set[str] | None = None) -> None:
        """Hardlink every file under ``src`` into ``dst`` with the same
        relative layout — new version dirs share the unchanged files'
        storage instead of copying them (files are immutable once their
        dir is promoted, so sharing is safe). ``skip`` names relative
        entries (segment dirs / sidecar files / nested index partitions
        like '_INVIDX_c/_seg=3') to leave out."""
        skip = skip or set()
        for root, dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            if rel != "." and (rel in skip or rel.split(os.sep)[0] in skip):
                dirs[:] = []
                continue
            tdir = dst if rel == "." else os.path.join(dst, rel)
            os.makedirs(tdir, exist_ok=True)
            for f in files:
                if rel == "." and f in skip:
                    continue
                os.link(os.path.join(root, f), os.path.join(tdir, f))

    def _promote(
        self,
        staged_stable: str,
        retire_delta: bool,
        carry_range_dels: list[dict] | None = None,
        staged_delta: str | None = None,
    ) -> None:
        """Swap a fully-built stable dir (and, when the delta was folded
        into it, a fresh empty delta) to current. The `_CURRENT` replace
        is the commit point; everything before is invisible to readers,
        everything after is garbage collection. ``carry_range_dels``:
        range tombstones newer than the compaction safe-point, written
        into the fresh delta dir BEFORE the commit — losing them would
        resurrect deleted rows. ``staged_delta``: a pre-built replacement
        delta dir (remote-compaction adoption carries the post-watermark
        tail this way) — mutually exclusive with carry_range_dels."""
        sb = self._superblock()
        epoch = sb["epoch"] + 1
        new_stable = f"stable_v{epoch}"
        target = os.path.join(self.path, new_stable)
        if os.path.exists(target):
            # orphan of a promote that crashed before its commit —
            # unreferenced by _CURRENT, safe to clear
            shutil.rmtree(target, ignore_errors=True)
        os.rename(staged_stable, target)
        newsb = {"epoch": epoch, "stable": new_stable, "delta": sb["delta"]}
        if retire_delta:
            newsb["delta"] = f"delta_v{epoch}"
            dtarget = os.path.join(self.path, newsb["delta"])
            if os.path.exists(dtarget):
                shutil.rmtree(dtarget, ignore_errors=True)
            if staged_delta is not None:
                os.rename(staged_delta, dtarget)
            else:
                os.makedirs(dtarget, exist_ok=True)
                if carry_range_dels:
                    self._write_range_dels(carry_range_dels, delta_dir=dtarget)
        self._fail("before_commit")
        self._commit_superblock(newsb)
        self._fail("after_commit")
        self._gc_orphans()
        self._refresh()

    def _gc_orphans(self) -> None:
        """Delete version/staging dirs the superblock no longer
        references. Only our own naming patterns are touched. Best-effort:
        a crash mid-GC just leaves orphans for the next sweep."""
        sb = self._superblock()
        keep = {sb["stable"], sb["delta"]}
        for name in os.listdir(self.path):
            if name in keep:
                continue
            full = os.path.join(self.path, name)
            if os.path.isdir(full) and name.startswith(
                ("stable", "delta", "_stage_", "seg_")
            ):
                shutil.rmtree(full, ignore_errors=True)

    # --- schema evolution (online DDL) -------------------------------------
    #
    # Reference: DDL is synced into DeltaMerge as versioned table schemas
    # (dbms/src/TiDB/Schema/SchemaBuilder.cpp, TiDBSchemaSyncer.cpp; storage
    # side dbms/src/Storages/DeltaMerge/SchemaUpdate.cpp) — data files keep
    # the schema they were written under, reads reconcile to the CURRENT
    # schema (added column missing in old files → NULL; dropped column in
    # old files → pruned), and delta merge rewrites to the latest schema.
    #
    # Spark-first: a `_SCHEMA` manifest records [[name, ddl_type], ...] per
    # version. Layers are read with parquet schema merging, then every read
    # and every compaction projects to the current version's columns. The
    # handle column is implicit and immutable.

    def _schema_versions(self) -> list[dict]:
        return _read_json(os.path.join(self.path, "_SCHEMA"), {"versions": []})["versions"]

    def _write_schema_versions(self, versions: list[dict]) -> None:
        _write_json(os.path.join(self.path, "_SCHEMA"), {"versions": versions})

    def schema_version(self) -> int | None:
        vs = self._schema_versions()
        return vs[-1]["v"] if vs else None

    def current_fields(self) -> list[tuple[str, str]] | None:
        """Current user columns as (name, ddl type), handle excluded;
        None when the store has no schema manifest (legacy mode: reads
        surface whatever the files contain)."""
        vs = self._schema_versions()
        return [tuple(f) for f in vs[-1]["fields"]] if vs else None

    # --- table definition (CREATE TABLE surface) -----------------------------

    def write_table_def(
        self,
        order: list[str],
        pk: str | None,
        pk_type: str = "bigint",
        dt_prec: dict[str, int] | None = None,
        time_cols: dict[str, int] | None = None,
        bin_cols: dict[str, int] | None = None,
        bit_cols: dict[str, int] | None = None,
    ) -> None:
        """Record the CREATE TABLE column order and the PRIMARY KEY →
        handle mapping (TiDB: a CLUSTERED single-int PK IS _tidb_rowid;
        NONCLUSTERED keeps the hidden rowid). ``order`` is the declared
        column order (pk included at its position) driving implicit
        INSERT lists; ``pk`` is the user-facing handle name (None = auto
        hidden rowid); ``dt_prec`` records DATETIME(p)/TIMESTAMP(p)
        fractional precision (MySQL default 0 — writes round to it)."""
        doc = {"order": order, "pk": pk, "pk_type": pk_type}
        if dt_prec:
            doc["dt_prec"] = dt_prec
        if time_cols:
            # MySQL TIME(p) columns (stored as normalized duration
            # strings): writes must normalize numeric/partial literals
            doc["time_cols"] = time_cols
        if bin_cols:
            # fixed BINARY(n) columns zero-pad writes to n bytes
            doc["bin_cols"] = bin_cols
        if bit_cols:
            # BIT(n): stored as ints, declared width drives the
            # binary-as-hex rendering (0x0707 for bit(12))
            doc["bit_cols"] = bit_cols
        _write_json(os.path.join(self.path, "_TABLEDEF"), doc)

    def update_table_def(self, **patch) -> None:
        """Merge-style table-def update: read the existing doc, overwrite
        only the supplied keys, keep everything else (bin_cols/bit_cols/
        time_cols/dt_prec width metadata survives ALTERs that only touch
        order/pk). ``pk=None`` is a real value (hidden rowid); to delete
        a metadata key pass ``delta_store.UNSET``. Use this at ALTER call
        sites instead of re-passing every positional field through
        write_table_def."""
        doc = self.table_def() or {}
        for k, v in patch.items():
            if v is UNSET:
                doc.pop(k, None)
            else:
                doc[k] = v
        doc.setdefault("order", [])
        doc.setdefault("pk", None)
        doc.setdefault("pk_type", "bigint")
        _write_json(os.path.join(self.path, "_TABLEDEF"), doc)

    def table_def(self) -> dict | None:
        return _read_json(os.path.join(self.path, "_TABLEDEF"))

    def handle_alias(self) -> str | None:
        """User-facing name of the handle column (the declared PRIMARY
        KEY), None for legacy/hidden-rowid stores."""
        td = self.table_def()
        return td["pk"] if td else None

    def _handle_type(self) -> str:
        td = self.table_def()
        return (td or {}).get("pk_type") or "bigint"

    def _bootstrap_versions(self) -> list[dict]:
        """First DDL on a manifest-less store snapshots the observed file
        schema as v1 (the pre-DDL table definition)."""
        vs = self._schema_versions()
        if vs:
            return vs
        fields = [
            [f.name, f.dataType.simpleString()]
            for f in self.log().schema.fields
            if f.name != HANDLE and f.name not in _INTERNAL_COLS
        ]
        return [{"v": 1, "fields": fields}]

    def _check_mutable(self, name: str) -> None:
        if name == HANDLE or name in _INTERNAL_COLS:
            raise ValueError(f"column {name!r} is internal/immutable")

    def add_column(self, name: str, dtype: str, default=None) -> int:
        """ALTER TABLE ADD COLUMN [DEFAULT v]: rows written before this
        DDL read as the default (NULL when none) — no file rewrite, the
        fill is a read-time expression gated on the row's commit version
        (reference SchemaUpdate + the alter_*_default_value DDL suites:
        existing rows surface the default, an explicit NULL written
        AFTER the DDL stays NULL). Compaction materializes the fill into
        the rewritten files. Re-adding a previously dropped name
        requires the SAME type: old files still hold the old values and
        parquet won't re-interpret them."""
        self._check_mutable(name)
        vs = self._bootstrap_versions()
        if any(n == name for n, _ in vs[-1]["fields"]):
            raise ValueError(f"column {name!r} already exists")
        for v in vs:
            for n, t in v["fields"]:
                if n == name and t != dtype:
                    raise ValueError(
                        f"column {name!r} existed as {t}; re-adding as {dtype} "
                        "would mis-read old files — pick a new name"
                    )
        renames = vs[-1].get("renames", {})
        for chain in renames.values():
            if name in chain:
                raise ValueError(
                    f"{name!r} is a prior stored name of a renamed column "
                    "— old files still hold its values; pick a new name"
                )
        defaults = dict(vs[-1].get("defaults", {}))
        if default is not None:
            try:
                top = self.log().agg(F.max(VERSION).alias("v")).collect()[0].v
            except Exception:
                top = None  # empty store: nothing predates the DDL
            defaults[name] = {"d": str(default), "since": int(top or 0)}
        vs = vs + [
            {
                "v": vs[-1]["v"] + 1,
                "fields": vs[-1]["fields"] + [[name, dtype]],
                "gen": dict(vs[-1].get("gen", {})),
                "renames": dict(renames),
                "defaults": defaults,
                "not_null": list(vs[-1].get("not_null", [])),
            }
        ]
        self._write_schema_versions(vs)
        return vs[-1]["v"]

    def set_column_nullable(self, name: str, nullable: bool) -> int:
        """ALTER ... [NOT] NULL (reference ddl/alter_column_nullable.test:
        metadata-only both ways — TiDB validates existing data before
        shipping NOT NULL; here the existing snapshot is checked once at
        the DDL). NOT NULL columns reject NULL values at write_batch;
        an omitted NOT NULL column still materializes its default."""
        self._check_mutable(name)
        vs = self._bootstrap_versions()
        cur = {n: t for n, t in vs[-1]["fields"]}
        if name not in cur:
            raise ValueError(f"column {name!r} not in current schema")
        if name in vs[-1].get("gen", {}):
            raise ValueError(f"column {name!r} is generated")
        not_null = set(vs[-1].get("not_null", []))
        if not nullable:
            existing_nulls = (
                self.read().filter(F.col(name).isNull()).limit(1).count()
            )
            if existing_nulls:
                raise ValueError(
                    f"cannot add NOT NULL on {name!r}: existing rows hold NULL"
                )
            not_null.add(name)
        else:
            not_null.discard(name)
        vs = vs + [
            {"v": vs[-1]["v"] + 1, "fields": vs[-1]["fields"],
             "gen": dict(vs[-1].get("gen", {})),
             "renames": dict(vs[-1].get("renames", {})),
             "defaults": dict(vs[-1].get("defaults", {})),
             "not_null": sorted(not_null)}
        ]
        self._write_schema_versions(vs)
        return vs[-1]["v"]

    def current_not_null(self) -> set[str]:
        vs = self._schema_versions()
        return set(vs[-1].get("not_null", [])) if vs else set()

    def set_column_default(self, name: str, new_default) -> int:
        """ALTER ... SET DEFAULT (reference alter_default_value_update:
        updating a default affects only FUTURE writes that omit the
        column — rows already readable keep the ADD-time fill, because
        this store fills pre-ADD rows at read time from the ORIGINAL
        default)."""
        self._check_mutable(name)
        vs = self._bootstrap_versions()
        cur = {n: t for n, t in vs[-1]["fields"]}
        if name not in cur:
            raise ValueError(f"column {name!r} not in current schema")
        defaults = dict(vs[-1].get("defaults", {}))
        if name not in defaults:
            if new_default is None:
                return vs[-1]["v"]  # dropping a default that never existed
            # installing a fresh default (ALTER ... CHANGE col col t
            # DEFAULT x): write-side only — existing physical NULLs stay
            # NULL (since=-1 disables the pre-ADD read fill)
            defaults[name] = {
                "d": str(new_default), "since": -1, "w": str(new_default)
            }
        elif new_default is None:
            # CHANGE without a DEFAULT clause drops it: future omitted
            # writes store NULL ("w": None), while the ADD-time read fill
            # for pre-ADD rows stays pinned to "d"
            defaults[name] = {**defaults[name], "w": None}
        else:
            defaults[name] = {**defaults[name], "w": str(new_default)}
        vs = vs + [
            {"v": vs[-1]["v"] + 1, "fields": vs[-1]["fields"],
             "gen": dict(vs[-1].get("gen", {})),
             "renames": dict(vs[-1].get("renames", {})),
             "defaults": defaults,
             "not_null": list(vs[-1].get("not_null", []))}
        ]
        self._write_schema_versions(vs)
        return vs[-1]["v"]

    _INT_CHAIN = ["tinyint", "smallint", "int", "bigint"]

    @classmethod
    def _lossless_change(cls, old: str, new: str) -> bool:
        """True when ``old -> new`` is a widening the parquet reader can
        apply in place (Spark 4 type widening): int-chain widening,
        float->double, decimal precision growth without scale loss. The
        same whitelist TiDB applies before pushing a MODIFY COLUMN to
        TiFlash without data reorg (reference SchemaBuilder applyAlterTable
        path — lossy changes run as add-new/backfill/drop-old instead)."""
        ob, nb = old.split("(")[0], new.split("(")[0]
        if ob in cls._INT_CHAIN and nb in cls._INT_CHAIN:
            return cls._INT_CHAIN.index(nb) >= cls._INT_CHAIN.index(ob)
        if ob == "float" and nb in ("float", "double"):
            return True
        if ob == "decimal" and nb == "decimal":
            def ps(t: str) -> tuple[int, int]:
                inner = t.split("(")[1].rstrip(")")
                p, s = (inner.split(",") + ["0"])[:2]
                return int(p), int(s)

            (op, os_), (np_, ns) = ps(old), ps(new)
            return ns >= os_ and (np_ - ns) >= (op - os_)
        return old == new

    @classmethod
    def _conversion_change(cls, old: str, new: str) -> bool:
        """Value-preserving changes parquet's READ-TIME widening cannot
        serve — the files must be physically rewritten (TiDB runs these
        as data reorg too). Currently: scale-0 decimal -> int chain when
        every p-digit value is representable
        (ddl/alter_column_nullable.test: MODIFY decimal(10,0) ->
        BIGINT)."""
        ob, nb = old.split("(")[0], new.split("(")[0]
        if ob == "decimal" and nb in cls._INT_CHAIN:
            inner = old.split("(")[1].rstrip(")") if "(" in old else "10,0"
            p, s = (inner.split(",") + ["0"])[:2]
            if int(s) != 0:
                return False
            cap = {"tinyint": 2, "smallint": 4, "int": 9, "bigint": 18}
            return int(p) <= cap[nb]
        return False

    def modify_column(self, name: str, new_type: str) -> int:
        """ALTER TABLE MODIFY COLUMN, lossless widenings only (see
        _lossless_change) — schema-registry change, NO file rewrite: old
        files are read through an explicitly widened schema (the parquet
        type-widening read), new writes conform to the new type.

        Sidecar indexes on the column are invalidated (zone map entry
        types and inverted-index value dtypes reflect the old type;
        absent index => scan, the standing RSResult rule); rebuild after
        the next compaction if wanted."""
        self._check_mutable(name)
        vs = self._bootstrap_versions()
        cur = {n: t for n, t in vs[-1]["fields"]}
        if name not in cur:
            raise ValueError(f"column {name!r} not in current schema")
        if name in vs[-1].get("gen", {}):
            raise ValueError(
                f"column {name!r} is generated — drop and re-add with a "
                "new expression instead of MODIFY"
            )
        convert = self._conversion_change(cur[name], new_type)
        if not convert and not self._lossless_change(cur[name], new_type):
            # a table with NO files yet has nothing to widen — any
            # retype is trivially lossless (mpp/window_agg.test issue
            # 10270: MODIFY datetime -> bool right after CREATE)
            empty = (self._layer("stable") is None
                     and not self._delta_has_files())
            if not empty:
                raise ValueError(
                    f"MODIFY {name!r} {cur[name]} -> {new_type} is not a "
                    "lossless widening; run it as add-new/backfill/drop-old"
                )
        if convert:
            # the reorg path: parquet's read-time widening cannot read
            # the old files at the new type (decimal pages under an int
            # read schema crash the vectorized reader), so the FULL MVCC
            # log is rewritten at the new type FIRST, while every file
            # is still uniform at the old one. Crash-safe via the same
            # stage/_CURRENT promotion as compaction.
            self._reorg_column_type(name, new_type)
        fields = [
            [n, new_type if n == name else t] for n, t in vs[-1]["fields"]
        ]
        vs = vs + [
            {"v": vs[-1]["v"] + 1, "fields": fields,
             "gen": dict(vs[-1].get("gen", {})),
             "renames": dict(vs[-1].get("renames", {})),
             "defaults": dict(vs[-1].get("defaults", {})),
             "not_null": list(vs[-1].get("not_null", []))}
        ]
        self._write_schema_versions(vs)
        self._forget_index_column(name)
        return vs[-1]["v"]

    def _reorg_column_type(self, name: str, new_type: str) -> None:
        """Physical rewrite for a MODIFY parquet widening cannot serve
        (decimal -> int chain): materialize the FULL MVCC log — every
        version and delete mark — with the column cast, promote it as
        the new stable layer + empty delta via the compact staging
        machinery. Range tombstones carry unchanged."""
        try:
            log = self.log()
        except ValueError:
            return  # empty store: registry-only change
        merged = log.withColumn(name, F.col(name).cast(new_type))
        if "_seg" in merged.columns:
            merged = merged.drop("_seg")
        stage = self._stage_dir("reorg")
        (
            merged.repartition(HANDLE)
            .sortWithinPartitions(HANDLE)
            .write.mode("overwrite")
            .parquet(stage)
        )
        self._write_stable_schema(
            self.spark.read.parquet(stage).schema, layer_dir=stage
        )
        prior = self._index_metas()
        self._promote(stage, retire_delta=True, carry_range_dels=self._range_dels())
        self._rebuild_indexes(prior)

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN: reads prune it everywhere immediately;
        the bytes in already-written files are reclaimed at the next
        compaction (reference: drop is a schema-only change). Dropping a
        generated column removes its expression too."""
        self._check_mutable(name)
        vs = self._bootstrap_versions()
        if not any(n == name for n, _ in vs[-1]["fields"]):
            raise ValueError(f"column {name!r} not in current schema")
        fields = [f for f in vs[-1]["fields"] if f[0] != name]
        gen = {k: v for k, v in vs[-1].get("gen", {}).items() if k != name}
        renames = {
            k: v for k, v in vs[-1].get("renames", {}).items() if k != name
        }
        defaults = {
            k: v for k, v in vs[-1].get("defaults", {}).items() if k != name
        }
        not_null = [c for c in vs[-1].get("not_null", []) if c != name]
        vs = vs + [{"v": vs[-1]["v"] + 1, "fields": fields, "gen": gen,
                    "renames": renames, "defaults": defaults,
                    "not_null": not_null}]
        self._write_schema_versions(vs)
        return vs[-1]["v"]

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN — metadata-only (reference
        SchemaBuilder handles renames by column ID; files here keep the
        write-time name, reads coalesce through the prior-name chain).
        Sidecar indexes and zone-map entries keyed by the old name are
        invalidated (absent => scan); generated columns referencing the
        old name reject the rename (their expressions are stored text)."""
        import re as _re

        self._check_mutable(old)
        self._check_mutable(new)
        vs = self._bootstrap_versions()
        cur = {n: t for n, t in vs[-1]["fields"]}
        if old not in cur:
            raise ValueError(f"column {old!r} not in current schema")
        if new in cur:
            raise ValueError(f"column {new!r} already exists")
        gen_prev = dict(vs[-1].get("gen", {}))
        if old in gen_prev:
            raise ValueError(
                f"column {old!r} is generated — drop and re-add under the "
                "new name instead of RENAME"
            )
        for g, expr in gen_prev.items():
            if _re.search(rf"\b{_re.escape(old)}\b", expr):
                raise ValueError(
                    f"generated column {g!r} references {old!r}; drop it "
                    "before renaming"
                )
        renames = {
            k: list(v) for k, v in vs[-1].get("renames", {}).items()
        }
        chain = [old] + renames.pop(old, [])
        # a prior stored name must never be shadowed by a later ADD
        for prior in chain:
            if prior in cur and prior != old:
                raise ValueError(
                    f"stored name {prior!r} is still a live column"
                )
        renames[new] = chain
        fields = [
            [new if n == old else n, t] for n, t in vs[-1]["fields"]
        ]
        defaults = dict(vs[-1].get("defaults", {}))
        if old in defaults:
            defaults[new] = defaults.pop(old)
        not_null = [
            new if c == old else c for c in vs[-1].get("not_null", [])
        ]
        vs = vs + [
            {"v": vs[-1]["v"] + 1, "fields": fields, "gen": gen_prev,
             "renames": renames, "defaults": defaults,
             "not_null": not_null}
        ]
        self._write_schema_versions(vs)
        self._forget_index_column(old)
        return vs[-1]["v"]

    def add_generated_column(self, name: str, dtype: str, expr: str) -> int:
        """ALTER TABLE ADD COLUMN ... AS (expr) VIRTUAL — a computed,
        never-stored column (reference: TiDB virtual generated columns,
        exercised against TiFlash in fullstack-test/mpp/
        generated_column.test). The expression is evaluated at READ time
        over the row's stored columns (codegen, zero storage cost);
        writes must not supply a value; compactions never materialize it.
        ``expr`` is a Spark SQL expression over STORED columns only
        (chaining generated columns is rejected)."""
        self._check_mutable(name)
        vs = self._bootstrap_versions()
        if any(n == name for n, _ in vs[-1]["fields"]):
            raise ValueError(f"column {name!r} already exists")
        gen_prev = dict(vs[-1].get("gen", {}))
        from pyspark.sql.functions import expr as _sql_expr

        refs = _sql_expr(expr)  # parse now: a bad expression fails the DDL
        del refs
        import re as _re

        for g in gen_prev:
            if _re.search(rf"\b{_re.escape(g)}\b", expr):
                raise ValueError(
                    f"generated column {name!r} may only reference stored "
                    f"columns, not generated column {g!r}"
                )
        fields = vs[-1]["fields"] + [[name, dtype]]
        gen = dict(gen_prev, **{name: expr})
        vs = vs + [{"v": vs[-1]["v"] + 1, "fields": fields, "gen": gen,
                    "renames": dict(vs[-1].get("renames", {})),
                    "defaults": dict(vs[-1].get("defaults", {})),
                    "not_null": list(vs[-1].get("not_null", []))}]
        self._write_schema_versions(vs)
        return vs[-1]["v"]

    def current_gen(self) -> dict[str, str]:
        """Generated-column expressions of the current schema version."""
        vs = self._schema_versions()
        return dict(vs[-1].get("gen", {})) if vs else {}

    def current_defaults(self) -> dict[str, dict]:
        """visible name -> {"d": literal string, "since": commit version
        at the ADD} for columns added with a DEFAULT."""
        vs = self._schema_versions()
        return dict(vs[-1].get("defaults", {})) if vs else {}

    def current_renames(self) -> dict[str, list[str]]:
        """visible name -> prior stored names (newest first), for
        columns that were RENAMEd — files keep their write-time names."""
        vs = self._schema_versions()
        return {
            k: list(v) for k, v in (vs[-1].get("renames", {}) if vs else {}).items()
        }

    def _visible_exprs(self, names: list[str], df_cols: list[str]) -> list:
        """Column expressions computing the given VISIBLE columns over a
        frame of RAW stored columns — rename coalesce (files keep their
        write-time names), ADD-COLUMN-DEFAULT commit-version gate,
        generated-column evaluation. The single source of truth shared by
        _conform and the late-materialization narrow/payload scans, so
        every read path sees identical post-DDL values."""
        gen = self.current_gen()
        renames = self.current_renames()
        defaults = self.current_defaults()
        types = dict(self.current_fields() or [])
        cols = []
        for n in names:
            t = types.get(n, "string")
            if n in gen:
                cols.append(F.expr(gen[n]).cast(t).alias(n))
                continue
            # a renamed column's value may live under any prior stored
            # name (files are never rewritten by RENAME); newest name wins
            sources = [c for c in [n] + renames.get(n, []) if c in df_cols]
            if not sources:
                base = F.lit(None).cast(t)
            elif len(sources) == 1:
                base = F.col(sources[0]).cast(t)
            else:
                base = F.coalesce(*[F.col(c).cast(t) for c in sources])
            if n in defaults:
                # ADD COLUMN ... DEFAULT: rows committed at or before the
                # DDL surface the default; explicit NULLs written after
                # stay NULL (gate on the row's commit version). Applied
                # on the rewrite path too, so compaction MATERIALIZES the
                # fill before versions are restamped.
                dv = F.lit(defaults[n]["d"]).cast(t)
                if not sources:
                    base = dv
                elif VERSION in df_cols:
                    base = F.when(
                        base.isNull()
                        & (F.col(VERSION) <= F.lit(int(defaults[n]["since"]))),
                        dv,
                    ).otherwise(base)
            cols.append(base.alias(n))
        return cols

    def _stored_sources(self, names: list[str], df_cols: list[str]) -> list[str]:
        """RAW stored columns (present in ``df_cols``) needed to compute
        the given visible columns — rename chains expand to every prior
        stored name, generated columns to the stored columns their
        expression references (word-boundary match, the same resolution
        add_generated_column validates against)."""
        import re as _re

        gen = self.current_gen()
        renames = self.current_renames()
        skip = {HANDLE, *_INTERNAL_COLS}
        need: list[str] = []
        for n in names:
            if n in gen:
                for c in df_cols:
                    if c not in need and c not in skip and _re.search(
                        rf"\b{_re.escape(c)}\b", gen[n]
                    ):
                        need.append(c)
            else:
                for c in [n] + renames.get(n, []):
                    if c in df_cols and c not in need:
                        need.append(c)
        return need

    def _ddl_shadowed(self, col: str) -> bool:
        """True when DDL makes ``col``'s VISIBLE values differ from its
        stored bytes (rename chain / ADD-DEFAULT fill / generated
        expression). Stored-byte index pruning (zone map min/max/null
        counts, inverted-index postings) is then unsound — e.g. a pre-ADD
        segment stores NULL (or lacks the column entirely) while every
        visible value is the default — so the index consults must fall
        back to a full scan + post-conform filter. Perf-only: the filter
        itself always binds to conformed visible values."""
        return (
            col in self.current_gen()
            or col in self.current_renames()
            or col in self.current_defaults()
        )

    def _conform(self, df: DataFrame, internal: bool) -> DataFrame:
        """Project a frame to the current schema version: handle first,
        missing columns → typed NULL, dropped columns pruned, then (for
        write paths) the MVCC internals. Generated columns are COMPUTED
        here on the read path and EXCLUDED on the write/rewrite path —
        they are never stored (TiDB virtual generated column contract)."""
        fields = self.current_fields()
        if fields is None:
            return df
        gen = self.current_gen()
        names = [n for n, _ in fields if not (internal and n in gen)]
        cols = [F.col(HANDLE)] + self._visible_exprs(names, df.columns)
        if internal:
            cols += [F.col(VERSION), F.col(DELMARK)]
        return df.select(*cols)

    # --- write path --------------------------------------------------------

    def write_batch(self, df: DataFrame, version: int, delete: bool = False) -> None:
        """Append one upsert/delete batch to the delta layer.

        ``df`` must carry the handle column; version stamps every row
        (≈ commit-ts of the Raft batch, reference PartitionStreams.cpp
        writeRegionDataToStorage). With a schema manifest the batch is
        conformed to the current version (an in-flight writer may lag one
        DDL behind: its missing new columns become NULL); columns outside
        the current schema are an error, not silent data loss.
        """
        fields = self.current_fields()
        if fields is not None:
            known = {n for n, _ in fields} | {HANDLE}
            extra = [c for c in df.columns if c not in known]
            if extra:
                raise ValueError(
                    f"batch columns {extra} not in schema v{self.schema_version()}"
                )
            df = self._conform_user_write(df, fields)
        elif delete:
            df = self._with_null_payload(df)
        nn = self.current_not_null() if not delete else set()
        if nn:
            checks = [c for c in nn if c in df.columns]
            if checks:
                bad = df.filter(
                    " OR ".join(f"`{c}` IS NULL" for c in checks)
                ).limit(1).count()
                if bad:
                    raise ValueError(
                        f"NOT NULL columns {sorted(checks)} received NULL "
                        "values (reference: TiDB rejects before replication)"
                    )
            missing = [
                c for c in nn
                if c not in df.columns and c not in self.current_defaults()
            ]
            if missing:
                raise ValueError(
                    f"NOT NULL columns {missing} omitted with no default"
                )
        out = df.withColumn(VERSION, F.lit(version).cast("long")).withColumn(
            DELMARK, F.lit(1 if delete else 0).cast("int")
        )
        out.write.mode("append").parquet(self.delta_path())

    def _with_null_payload(self, df: DataFrame) -> DataFrame:
        """A delete batch needs only its handles: give it the store's other
        columns as typed NULLs, so every delta file carries the full
        schema (a layer read without mergeSchema samples one footer, and
        a handle-only footer hides the payload from the merge)."""
        schema = self._stable_schema()
        if schema is None:
            layer = self._layer("stable")
            layer = layer if layer is not None else self._layer("delta")
            schema = layer.schema if layer is not None else None
        if schema is None:
            return df
        missing = [
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
            if f.name not in df.columns and f.name not in (VERSION, DELMARK, "_seg")
        ]
        return df.select("*", *missing) if missing else df

    def write_log_batch(self, df: DataFrame) -> None:
        """Append a batch that ALREADY carries per-row ``_INTERNAL_VERSION``
        and ``_INTERNAL_DELMARK`` — replaying a raft log whose rows have
        individual commit-ts (the mock-raft ingest of the delta-merge test
        replay, sources/dbgscript.py; reference RegionBench applies each
        row at its own tso).  Schema conformance is the caller's problem:
        these stores are built against the raw DeltaStore API."""
        out = df.withColumn(VERSION, F.col(VERSION).cast("long")).withColumn(
            DELMARK, F.col(DELMARK).cast("int")
        )
        out.write.mode("append").parquet(self.delta_path())

    def _conform_user_write(self, df: DataFrame, fields) -> DataFrame:
        gen = self.current_gen()
        supplied = [n for n in gen if n in df.columns]
        if supplied:
            raise ValueError(
                f"columns {supplied} are generated — values are computed "
                "at read time and cannot be written"
            )
        defaults = self.current_defaults()
        cols = [F.col(HANDLE)]
        for n, t in fields:
            if n in gen:
                continue  # never stored
            if n in df.columns:
                cols.append(F.col(n).cast(t).alias(n))
            elif n in defaults:
                # an omitted defaulted column materializes the CURRENT
                # write default (MySQL INSERT semantics; "w" when SET
                # DEFAULT updated it) — post-DDL NULLs in the files are
                # therefore always EXPLICIT user NULLs. The read-time
                # fill for pre-ADD rows stays pinned to the ADD-time "d".
                cols.append(
                    F.lit(defaults[n].get("w", defaults[n]["d"])).cast(t).alias(n)
                )
            else:
                cols.append(F.lit(None).cast(t).alias(n))
        return df.select(*cols)

    # --- range deletes ------------------------------------------------------
    #
    # Reference: DeltaMergeStore::deleteRange (DeltaMergeStore.cpp:812)
    # writes a DeleteRange entry into every overlapping segment's delta;
    # the merge-on-read hides rows the range covers that were written
    # BEFORE it, and delta merge applies it physically then garbage-
    # collects the entry. Spark-first: the tombstone list is metadata in
    # the DELTA version dir (`_RANGE_DELS`, atomically replaced) — a
    # range delete is O(1) metadata, never a scan — and every snapshot
    # read applies the list as one codegen predicate after the MVCC
    # winner pick. Compaction applies tombstones with version <= the
    # GC-safe-point physically and carries newer ones into the fresh
    # delta dir BEFORE the pointer swap (crash-safe: a lost carry would
    # resurrect deleted rows).

    def truncate_table(self) -> None:
        """TRUNCATE TABLE (reference ddl/alter_truncate_table.test: TiDB
        recreates the table under a new ID — data AND history vanish
        atomically). Swaps in an empty stable version and a fresh delta
        through the same crash-safe `_CURRENT` commit as compaction; the
        schema registry (columns, defaults, renames) survives, every
        index/zone-map sidecar dies with the old layer dirs."""
        stable = self._layer("stable")
        stage = self._stage_dir("truncate")
        if stable is None and self._delta_has_files():
            # never-compacted store: type the empty stable from the
            # delta's stored schema so the table stays readable (view
            # re-registration reads it immediately after the swap)
            stable = self._layer("delta").drop(
                *[c for c in _INTERNAL_COLS if c != VERSION]
            ).drop(VERSION).withColumn(VERSION, F.lit(0).cast("long")).withColumn(
                DELMARK, F.lit(0).cast("int")
            ).limit(0)
        if stable is not None:
            # an empty frame with the stored schema keeps later reads typed
            self.spark.createDataFrame([], stable.schema).write.mode(
                "overwrite"
            ).parquet(stage)
            self._write_stable_schema(stable.schema, layer_dir=stage)
        else:
            os.makedirs(stage, exist_ok=True)
        self._fail("staged")
        self._promote(stage, retire_delta=True)
        # the version log restarts with the data: a writer that resumes at
        # version 1 and writes an EXPLICIT NULL must not have it rewritten
        # to the ADD-time default by the pre-ADD fill gate, so every
        # default's 'since' is reset to a sentinel no row version can be
        # <= (omitted columns still materialize at WRITE time, which does
        # not consult 'since')
        vs = self._schema_versions()
        if vs and vs[-1].get("defaults"):
            vs[-1]["defaults"] = {
                k: dict(d, since=-1) for k, d in vs[-1]["defaults"].items()
            }
            self._write_schema_versions(vs)
        self._refresh()

    def delete_range(self, lo, hi, version: int) -> None:
        """Delete every row with ``lo <= handle < hi`` whose version is
        <= ``version`` (delete-wins on the tie, matching point
        tombstones). Rows written to the range AFTER this version are
        unaffected — exactly the reference's Raft delete-range
        semantics. O(1): appends one tombstone to the delta metadata."""
        if lo is None or hi is None:
            raise ValueError("delete_range needs both bounds (half-open [lo, hi))")
        dels = self._range_dels()
        dels.append({"lo": lo, "hi": hi, "v": int(version)})
        self._write_range_dels(dels)

    def _range_dels(self, delta_dir: str | None = None) -> list[dict]:
        return _read_json(os.path.join(delta_dir or self.delta_path(), "_RANGE_DELS"), [])

    def _write_range_dels(self, dels: list[dict], delta_dir: str | None = None) -> None:
        _write_json(os.path.join(delta_dir or self.delta_path(), "_RANGE_DELS"), dels)

    def _range_del_filter(self, ts: int | None):
        """One codegen predicate hiding rows covered by a visible range
        tombstone: handle in [lo, hi) AND row version <= tombstone
        version (and tombstone version <= read ts). None when there are
        no applicable tombstones. The list is small by construction —
        compaction GCs applied entries, like the reference."""
        cond = None
        for d in self._range_dels():
            if ts is not None and d["v"] > ts:
                continue  # tombstone not visible at this snapshot
            covered = (
                (F.col(HANDLE) >= F.lit(d["lo"]))
                & (F.col(HANDLE) < F.lit(d["hi"]))
                & (F.col(VERSION) <= F.lit(d["v"]))
            )
            cond = covered if cond is None else (cond | covered)
        return None if cond is None else ~cond

    def _snapshot(self, log: DataFrame, ts: int | None) -> DataFrame:
        """The MVCC pick: the newest visible version per handle at ``ts``
        (operators/mvcc.py), then the visible range tombstones. The frame
        keeps its internals, which the late-materialization scans project
        themselves."""
        out = snapshot_read(log, read_ts=ts)
        flt = self._range_del_filter(ts)
        return out if flt is None else out.filter(flt)

    def _visible(self, log: DataFrame, ts: int | None, mode: str = "normal") -> DataFrame:
        """The read step every front end shares (reference
        DMVersionFilterBlockInputStream per ReadMode): the MVCC pick with
        range tombstones in normal mode, or fastscan's delete-mark filter
        alone in fast mode, then the conform to the current schema.
        VERSION stays in scope through the conform (the ADD-COLUMN
        default gate needs the row's commit version) and is dropped
        after it with the other internals."""
        out = fast_scan(log) if mode == "fast" else self._snapshot(log, ts)
        drops = [DELMARK] + (["_seg"] if "_seg" in out.columns else [])
        conf = self._conform(out.drop(*drops), internal=False)
        return conf.drop(VERSION) if VERSION in conf.columns else conf

    # --- read path ---------------------------------------------------------

    def _write_stable_schema(self, schema, layer_dir: str | None = None) -> None:
        """Sidecar with the stable layer's schema: a compaction that
        garbage-collects EVERY row (fully-tombstoned table) writes zero
        parquet files, and without this the store would become unreadable
        (UNABLE_TO_INFER_SCHEMA) instead of reading as empty. Found by
        the property-based op-sequence test. Lives inside the stable
        version dir (``layer_dir`` stages it into a not-yet-promoted
        dir)."""
        _write_json(
            os.path.join(layer_dir or self.stable_path(), "_STABLE_SCHEMA"),
            schema.jsonValue(),
        )

    def _stable_schema(self):
        from pyspark.sql import types as T

        doc = _read_json(os.path.join(self.stable_path(), "_STABLE_SCHEMA"))
        return None if doc is None else T.StructType.fromJson(doc)

    def _footers(self, name: str, p: str, files: tuple) -> tuple[int, bytes | None]:
        """(rows, written schema) of a layer's data files, read from their
        parquet footers once per version of the files: the row count, and
        the Spark schema JSON that Spark's writer stores in every footer
        when all files carry the same one (else None)."""

        def read():
            import pyarrow.parquet as pq

            rows, written = 0, set()
            for rel, _mtime, _size in files:
                md = pq.read_metadata(os.path.join(p, rel))
                rows += md.num_rows
                written.add((md.metadata or {}).get(_SPARK_SCHEMA_KEY))
            return rows, (written.pop() if len(written) == 1 else None)

        return cache.memo(
            ("layer_footers", os.path.abspath(self.path), name),
            (os.path.abspath(p), files),
            read,
        )

    def _layer(self, name: str) -> DataFrame | None:
        """The live ``stable`` or ``delta`` layer as a DataFrame, None when
        it holds no data file. The footer-inferred schema is memoized and
        handed to the reader, so reading a warm layer runs no Spark job.
        It is inferred again when the layer's files move
        (``cache.tree_stamp``: a new batch, a rewritten segment, a new
        version dir) unless every file carries the same written schema
        and sits in the same partition dirs as when it was last inferred:
        Spark infers a file's schema from that footer entry alone, so an
        append or compaction in an unchanged schema needs no new job. One
        memo entry per (store, layer): a retired version dir's schema is
        replaced, not kept."""
        p = self.stable_path() if name == "stable" else self.delta_path()
        # files span schema versions → merge footers so added columns are
        # visible regardless of which file is sampled
        merge = bool(self._schema_versions())
        files = cache.tree_stamp(p)
        if files:
            def infer():
                r = self.spark.read.option("mergeSchema", "true") if merge else self.spark.read
                return r.parquet(p).schema

            dirs = tuple(sorted({os.path.dirname(rel) for rel, _mtime, _size in files}))
            try:
                written = self._footers(name, p, files)[1]
                schema = cache.memo(
                    ("layer_schema", os.path.abspath(self.path), name, merge),
                    (written, dirs) if written else (os.path.abspath(p), files),
                    infer,
                )
                df = self.spark.read.schema(schema).parquet(p)
                return df if df.columns else None
            except Exception as ex:
                if "CANNOT_MERGE_SCHEMAS" in str(ex) and merge:
                    # files span a MODIFY COLUMN widening (int-chain /
                    # float->double / decimal growth): footers conflict,
                    # but an explicit schema at the CURRENT (widest) types
                    # reads every file via the parquet type-widening path
                    widened = self._widened_layer(p)
                    if widened is not None:
                        return widened
        if name == "stable":
            schema = self._stable_schema()
            if schema is not None:
                # all rows GC'd at the last compaction: a valid, EMPTY
                # table — not an error
                return self.spark.createDataFrame([], schema)
        return None  # empty layer

    def _widened_layer(self, p: str) -> DataFrame | None:
        """Read a layer whose footers disagree only by lossless widening:
        sample ONE footer (plain read) for the internals/partition shape,
        override user-column types with the current schema registry, keep
        added-but-unsampled columns (they surface as typed NULLs)."""
        try:
            sample = self.spark.read.parquet(p).schema
        except Exception:
            return None
        cur = dict(self.current_fields() or [])
        for g in self.current_gen():
            # virtual generated columns are never stored — they must not
            # surface in the raw layer as added-but-unsampled NULLs
            cur.pop(g, None)
        # the handle widens too: MODIFY pk int->bigint leaves old footers
        # at int while new batches write bigint — reading the layer at the
        # sampled (old) type would WRAP new values (ddl/widen_pk.test)
        htype = self._handle_type() if self.table_def() else None
        out, seen = [], set()
        for f in sample.fields:
            seen.add(f.name)
            if f.name == HANDLE and htype:
                out.append(f"`{f.name}` {htype}")
            elif f.name in cur:
                out.append(f"`{f.name}` {cur[f.name]}")
            else:
                out.append(f"`{f.name}` {f.dataType.simpleString()}")
        for n, t in cur.items():
            if n not in seen:
                out.append(f"`{n}` {t}")
        df = self.spark.read.schema(", ".join(out)).parquet(p)
        return df if df.columns else None


    def _refresh(self) -> None:
        """Invalidate Spark's cached file listings for the live layer
        dirs. Versioned dirs get fresh names per swap, so staleness is
        mostly impossible by construction; the delta dir is the one path
        that accumulates files under a fixed name between swaps."""
        for p in (self.stable_path(), self.delta_path()):
            try:
                self.spark.catalog.refreshByPath(p)
            except Exception:
                pass

    def log(self) -> DataFrame:
        """The full merged log (stable rows carry their compacted version)."""
        parts = [d for d in (self._layer("stable"), self._layer("delta")) if d is not None]
        if not parts:
            fields = self.current_fields()
            if fields is not None:
                # a CREATEd-but-never-written table is empty, not broken:
                # reads return a typed zero-row frame from the manifest
                gen = self.current_gen()
                ddl = ", ".join(
                    [f"{HANDLE} {self._handle_type()}"]
                    + [f"{n} {t}" for n, t in fields if n not in gen]
                    + [f"{VERSION} long", f"{DELMARK} int"]
                )
                return self.spark.createDataFrame([], ddl)
            raise ValueError(f"empty store at {self.path}")
        df = parts[0]
        for p in parts[1:]:
            # stable may carry the _seg partition column that delta lacks
            df = df.unionByName(p, allowMissingColumns=True)
        return df

    def newest_version(self) -> int:
        """Highest commit version present (data rows or range tombstones);
        0 for an empty store. One tiny max aggregate — the analogue of the
        reference resolving the region's max commit-ts before stamping the
        next write batch."""
        try:
            v = self.log().agg(F.max(VERSION).alias("v")).collect()[0].v
        except ValueError:
            v = None
        rd = max((int(d["v"]) for d in self._range_dels()), default=0)
        return max(int(v or 0), rd)

    def max_handle(self):
        """Largest handle in the store (None when empty) — row-id
        allocation floor for auto-handle INSERTs (TiDB's _tidb_rowid
        allocator analogue, simplified to a max probe)."""
        try:
            return self.log().agg(F.max(HANDLE).alias("h")).collect()[0].h
        except ValueError:
            return None

    def read(self, ts: int | None = None, mode: str = "normal") -> DataFrame:
        """Snapshot-consistent read at version ts (None = everything),
        reconciled to the CURRENT schema version when one exists.
        ``mode='fast'`` is TiFlash's fastscan (tiflash_fastscan=ON,
        ReadMode.h Fast): skip the MVCC version filter — delete marks
        are not applied to earlier versions, so deleted rows stay
        visible until GC actually reclaims them."""
        return self._visible(self.log(), ts, mode)

    as_view = register_view

    # --- maintenance -------------------------------------------------------

    def compact(self, ts: int, num_segments: int | None = None,
                keep_deleted: bool = False) -> int:
        """Fold delta into stable with GC-safe-point ts (≈ delta merge,
        reference Segment delta→stable merge). Returns rows kept.

        Versions <= ts are deduped to the newest per handle (COMPACT
        filter mode, DMVersionFilterBlockInputStream.h:37-44); every
        version > ts survives unchanged — compacting at a ts below the
        newest committed version must never lose those later writes.
        Tombstones at or below ts are then garbage-collected: after the
        dedup there is no older stable row left for them to mask, and
        reads below the safe-point are no longer supported (the reference
        keeps tombstones until GC-safe-point — same rule).

        ``num_segments``: hash-partition stable by handle into that many
        segment directories (hive partition `_seg=`) — the analogue of the
        reference's PK-range Segments. Point/range reads on handles then
        prune segments at file-listing level, and a later compaction can
        rewrite one segment instead of the whole stable layer. The modulus
        is persisted in ``_SEGMENTS`` so readers never have to re-derive
        it from observed _seg values (an empty tail segment would skew
        the inference and mis-prune point reads).
        """
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from tiflash_spark.operators.mvcc import compact as mvcc_compact

        if keep_deleted:
            # GC safe-point behind the tombstones (the SQL COMPACT path):
            # per handle keep the newest row of EACH delmark side — the
            # tombstone still masks the row for MVCC reads, but the data
            # version survives for fastscan until a real GC compact
            # (variables/set_variable_fastscan.test)
            log0 = self.log()
            w_kd = Window.partitionBy(HANDLE, DELMARK).orderBy(
                F.col(VERSION).desc())
            merged = (
                log0.filter(F.col(VERSION) <= ts)
                .withColumn("_rn", F.row_number().over(w_kd))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
                .unionByName(log0.filter(F.col(VERSION) > ts))
            )
        else:
            merged = mvcc_compact(self.log(), ts).filter(
                ~((F.col(DELMARK) == 1) & (F.col(VERSION) <= ts))
            )
        # apply range tombstones at/below the safe-point physically (the
        # reference's delta merge does the same, then GCs the entry);
        # newer tombstones are carried into the fresh delta dir
        rd_flt = self._range_del_filter(ts)
        if rd_flt is not None:
            merged = merged.filter(rd_flt)
        rd_carry = [d for d in self._range_dels() if d["v"] > ts]
        if "_seg" in merged.columns:
            # a previously-segmented stable contributes _seg as a data
            # column; it is re-derived below (or absent for a flat layout)
            merged = merged.drop("_seg")
        # delta merge rewrites stable to the LATEST schema version: dropped
        # columns' bytes are reclaimed, added columns materialize as NULL
        # (reference SchemaUpdate.cpp — merge writes the current schema)
        merged = self._conform(merged, internal=True)
        stage = self._stage_dir("compact")
        if num_segments:
            self._write_segmented(
                merged.withColumn(
                    "_seg", F.pmod(F.xxhash64(F.col(HANDLE)), F.lit(num_segments))
                ),
                stage,
            )
        else:
            (
                merged.repartition(HANDLE)
                .sortWithinPartitions(HANDLE)
                .write.mode("overwrite")
                .parquet(stage)
            )
        n = self.spark.read.schema(merged.schema).parquet(stage).count()
        # layout metadata is staged INTO the new version dir: promoting
        # the dir promotes the metadata with it, atomically. A hash/flat
        # compact simply carries no _MANIFEST — the stale range manifest
        # dies with the old version dir instead of needing a delete that
        # could be observed early.
        self._write_stable_schema(merged.schema, layer_dir=stage)
        if num_segments:
            _write_json(os.path.join(stage, "_SEGMENTS"), num_segments)
        prior = self._index_metas()
        self._fail("staged")
        self._promote(stage, retire_delta=True, carry_range_dels=rd_carry)
        self._rebuild_indexes(prior)
        return n

    def _num_segments(self) -> int | None:
        """Write-time segment modulus, from store metadata. Inferring it
        from observed _seg values (max+1) is wrong when the top segment
        happens to be empty — pruning would then use a different modulus
        than the writer and silently miss handles."""
        return _read_json(os.path.join(self.stable_path(), "_SEGMENTS"))

    def read_handles(self, handles: list[int], ts: int | None = None) -> DataFrame:
        """Point reads: snapshot-read only the given handles. With a
        segmented stable layer the `_seg` predicate prunes partitions at
        file-listing level (reference: segment-range read tasks,
        DeltaMergeStore.h:382)."""
        from pyspark.sql import functions as F

        log = self.log()
        n_seg = self._num_segments()
        if "_seg" in log.columns and n_seg:
            # one tiny job computes the wanted segment ids with the SAME
            # hash expression (and persisted modulus) used at write time
            htype = "string" if isinstance(handles[0], str) else "long"
            wanted = {
                r.s
                for r in self.spark.createDataFrame(
                    [(h,) for h in handles], f"{HANDLE} {htype}"
                )
                .select(F.pmod(F.xxhash64(F.col(HANDLE)), F.lit(n_seg)).alias("s"))
                .collect()
            }
            log = log.filter(F.col("_seg").isin(*wanted) | F.col("_seg").isNull())
        return self._visible(log.filter(F.col(HANDLE).isin(*handles)), ts)

    def read_handles_df(self, handles_df: DataFrame, ts: int | None = None) -> DataFrame:
        """Point reads driven by a DataFrame of handles: broadcast
        LEFT SEMI join on the handle instead of an IN-list literal — the
        scale idiom when the candidate set is thousands of rows (a
        multi-thousand-literal predicate bloats the plan and the driver).
        Segment pruning still applies: one tiny distinct() computes the
        wanted segment ids with the same write-time hash."""
        from pyspark.sql import functions as F

        handles_df = handles_df.select(HANDLE).distinct()
        log = self.log()
        n_seg = self._num_segments()
        if "_seg" in log.columns and n_seg:
            wanted = {
                r.s
                for r in handles_df.select(
                    F.pmod(F.xxhash64(F.col(HANDLE)), F.lit(n_seg)).alias("s")
                ).distinct().collect()
            }
            if wanted:
                log = log.filter(
                    F.col("_seg").isin(*wanted) | F.col("_seg").isNull()
                )
        log = log.join(F.broadcast(handles_df), on=HANDLE, how="leftsemi")
        return self._visible(log, ts)

    # --- PK-range segments + incremental compaction -------------------------

    def compact_range_segments(self, ts: int, num_segments: int) -> int:
        """Range-based compaction: slice the handle space into
        ``num_segments`` contiguous ranges (the reference's actual Segment
        model — PK-range, not hash; DeltaMergeStore.h:107) and persist a
        per-segment [min,max] manifest. Range reads then prune segments by
        manifest lookup, which hash segmentation fundamentally can't do.

        Boundaries are equal-width over the observed handle range — at
        scale the reference splits/merges segments adaptively; equal-width
        keeps the derivation deterministic for tests while exercising the
        same pruning machinery.
        """
        from pyspark.sql import functions as F

        from tiflash_spark.operators.mvcc import compact as mvcc_compact

        merged = mvcc_compact(self.log(), ts).filter(
            ~((F.col(DELMARK) == 1) & (F.col(VERSION) <= ts))
        )
        rd_flt = self._range_del_filter(ts)
        if rd_flt is not None:
            merged = merged.filter(rd_flt)
        rd_carry = [d for d in self._range_dels() if d["v"] > ts]
        if "_seg" in merged.columns:
            merged = merged.drop("_seg")
        merged = self._conform(merged, internal=True)  # rewrite to latest schema
        string_handle = dict(merged.dtypes)[HANDLE] == "string"
        if string_handle:
            # Common-handle (clustered index) table: no width arithmetic on
            # strings — derive equal-COUNT boundaries with ntile over the
            # handle order. The global sort is confined to compaction (which
            # rewrites everything anyway); at larger scale, sample
            # boundaries instead of ntile-ing every row.
            from pyspark.sql import Window

            merged = merged.withColumn(
                "_seg", F.ntile(num_segments).over(Window.orderBy(HANDLE)) - 1
            )
        else:
            lo, hi = merged.agg(F.min(HANDLE), F.max(HANDLE)).collect()[0]
            if lo is None:
                lo, hi = 0, 0
            width = max(1, (hi - lo) // num_segments + 1)
            seg = F.least(
                F.lit(num_segments - 1),
                ((F.col(HANDLE) - F.lit(lo)) / width).cast("int"),
            )
            merged = merged.withColumn("_seg", seg)
        stage = self._stage_dir("range")
        self._write_segmented(merged, stage)
        n = self.spark.read.schema(merged.schema).parquet(stage).count()
        self._write_stable_schema(merged.drop("_seg").schema, layer_dir=stage)
        if string_handle:
            # bounds from the written files: [min handle, next seg's min),
            # last hi = max + NUL (a string strictly above every handle
            # with that prefix); half-open just like the int manifest, so
            # assignment/pruning/split/merge code is shared
            per_seg = {
                r.s: (r.mn, r.mx)
                for r in self.spark.read.parquet(stage)
                .groupBy(F.col("_seg").alias("s"))
                .agg(F.min(HANDLE).alias("mn"), F.max(HANDLE).alias("mx"))
                .collect()
            }
            seg_ids = sorted(per_seg)
            bounds = {}
            for i, s in enumerate(seg_ids):
                b_lo = per_seg[s][0]
                b_hi = (
                    per_seg[seg_ids[i + 1]][0]
                    if i + 1 < len(seg_ids)
                    else per_seg[s][1] + "\x00"
                )
                bounds[s] = [b_lo, b_hi]
            if not bounds:  # fully-tombstoned table: one empty segment
                bounds = {0: ["", "\x00"]}
            man = {"kind": "range", "n": len(bounds), "bounds": bounds,
                   "handle": "string"}
        else:
            # manifest: half-open [lo, hi) bounds per segment id
            bounds = {
                s: [int(lo + s * width), int(lo + (s + 1) * width)]
                for s in range(num_segments)
            }
            bounds[num_segments - 1][1] = int(hi) + 1
            man = {"kind": "range", "lo": int(lo), "width": int(width),
                   "n": num_segments, "bounds": bounds}

        # the manifest is part of the staged version dir: the range
        # layout's bounds and its data commit in one pointer swap (no
        # hash _SEGMENTS is staged, so that metadata dies with the old
        # version dir)
        _write_json(os.path.join(stage, "_MANIFEST"), man)
        prior = self._index_metas()
        self._fail("staged")
        self._promote(stage, retire_delta=True, carry_range_dels=rd_carry)
        self._rebuild_indexes(prior)
        return n

    def _stable_segments(self, segs: list[int]) -> DataFrame:
        """Stable rows of the range segments ``segs``, without ``_seg``. A
        range layout always stages ``_STABLE_SCHEMA``, so the layer is
        never None; without a ``_seg`` column it is the empty, fully
        GC'd layer and is returned as is."""
        stable = self._layer("stable")
        if "_seg" not in stable.columns:
            return stable
        return stable.filter(F.col("_seg").isin(list(segs))).drop("_seg")

    def _seg_counts(self) -> dict[int, int]:
        """Stable row count per segment (one grouped count job); empty for
        an empty stable layer."""
        stable = self._layer("stable")
        if stable is None or "_seg" not in stable.columns:
            return {}
        return {
            r.s: r.n
            for r in stable.groupBy(F.col("_seg").alias("s"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    def _manifest(self) -> dict | None:
        return _read_json(os.path.join(self.stable_path(), "_MANIFEST"))

    def _seg_assign_expr(self, man: dict):
        """Handle → segment id from the manifest BOUNDS (not the original
        equal-width formula): a CASE over the sorted upper bounds, with
        both ends clamped into the outermost segments. Equal to the old
        formula while bounds are the equal-width originals, and — unlike
        the formula — still correct after a segment split/merge reshapes
        them (reference: Segment::split/merge keep the range→segment map
        in DeltaMergeStore's segment tree, DeltaMergeStore.h:107)."""
        from pyspark.sql import functions as F

        ordered = sorted(
            ((int(s), blo, bhi) for s, (blo, bhi) in man["bounds"].items()),
            key=lambda t: t[1],
        )
        expr = F.lit(ordered[-1][0])  # >= last upper bound → last segment
        for s, _blo, bhi in reversed(ordered[:-1]):
            expr = F.when(F.col(HANDLE) < F.lit(bhi), F.lit(s)).otherwise(expr)
        return expr.cast("int")

    @staticmethod
    def _widen_outer_bounds(man: dict, dlo, dhi) -> None:
        """Widen the manifest's outermost bounds to cover an ingested
        [dlo, dhi], choosing the outer segments by THE SAME rule as
        _seg_assign_expr (sorted by lower bound, stable: first segment
        absorbs low out-of-range handles, last absorbs high ones).

        Choosing by max-upper-bound instead diverges on degenerate
        manifests — a near-empty compaction can mint an empty trailing
        range like {0: [0,1), 1: [1,1)} where max-by-bhi ties onto
        segment 0 while the assignment routes new high handles into
        segment 1; read_range would then prune the segment that actually
        holds them (silent row loss; pinned by
        test_store_properties.py::test_random_op_sequences_match_model
        and test_segment_lifecycle.py::test_ingest_bounds_follow_assignment)."""
        ordered = sorted(man["bounds"].values(), key=lambda b: b[0])
        b0, btop = ordered[0], ordered[-1]
        if isinstance(dlo, str):
            b0[0] = min(b0[0], dlo)
            btop[1] = max(btop[1], dhi + "\x00")
        else:
            b0[0] = min(b0[0], int(dlo))
            btop[1] = max(btop[1], int(dhi) + 1)

    def read_range(self, lo: int, hi: int, ts: int | None = None) -> DataFrame:
        """Range read [lo, hi): with a range-segmented stable layer only
        the overlapping segments are listed/scanned (manifest pruning —
        the reference's segment-range read tasks); the delta tail is
        always consulted (it is small by compaction cadence).

        The returned DataFrame is a PLAN-TIME SNAPSHOT (see read_where):
        manifest pruning and file listings are resolved at construction,
        so mutate-then-collect sees the pre-mutation store."""
        from pyspark.sql import functions as F

        log = self.log()
        man = self._manifest()
        if man and "_seg" in log.columns:
            wanted = [
                int(s)
                for s, (blo, bhi) in man["bounds"].items()
                if blo < hi and bhi > lo  # overlap
            ]
            log = log.filter(F.col("_seg").isin(wanted) | F.col("_seg").isNull())
        return self._visible(log.filter((F.col(HANDLE) >= lo) & (F.col(HANDLE) < hi)), ts)

    def compact_segments_incremental(self, ts: int) -> tuple[int, int]:
        """Incremental delta merge: rewrite ONLY the range segments whose
        delta tail actually has rows (the reference's per-Segment delta
        merge — a hot segment compacts without touching cold ones).
        Returns (segments rewritten, total segments).

        Requires a prior compact_range_segments. Dirty segments are found
        with one tiny aggregation over the delta (cheap: the delta IS the
        small layer). Crash-safe like the full compact: a new stable
        version dir is built with the COLD segments' files HARDLINKED
        (shared storage, no copy — they are immutable) and only the dirty
        segments' files written fresh, then the `_CURRENT` pointer swap
        retires the old stable + delta in one atomic step.
        """
        from pyspark.sql import functions as F

        from tiflash_spark.operators.mvcc import compact as mvcc_compact

        man = self._manifest()
        if not man:
            raise ValueError("incremental compaction needs range segments "
                             "(run compact_range_segments first)")
        delta = self._layer("delta")
        rd_applied = [d for d in self._range_dels() if d["v"] <= ts]
        rd_carry = [d for d in self._range_dels() if d["v"] > ts]
        if delta is None and not rd_applied:
            return (0, man["n"])
        n = man["n"]
        # bounds-driven assignment (clamped at both ends) — stays correct
        # after split/merge reshapes the segment ranges
        seg_of = self._seg_assign_expr(man)
        dirty_set: set[int] = set()
        # one pass over the delta: its dirty segments and its handle range
        # (materialized NOW — the df is lazy and the backing files are
        # deleted below)
        dlo = dhi = None
        if delta is not None:
            segs, dlo, dhi = delta.agg(
                F.collect_set(seg_of), F.min(HANDLE), F.max(HANDLE)
            ).collect()[0]
            dirty_set |= {int(s) for s in segs}
        # a range tombstone at/below the safe-point dirties every segment
        # its range overlaps — those partitions must be rewritten with
        # the tombstone applied so the entry can be GC'd afterwards
        for d in rd_applied:
            for s, (blo, bhi) in man["bounds"].items():
                if blo < d["hi"] and bhi > d["lo"]:
                    dirty_set.add(int(s))
        dirty = sorted(dirty_set)
        if not dirty:
            # nothing to rewrite; applied tombstones covered no segment —
            # still retire them from the metadata
            if rd_applied:
                self._write_range_dels(rd_carry)
            return (0, n)
        # cold segments may predate a DDL — the layer read merges footers
        # so the union below sees every column, then both sides conform
        part = self._conform(self._stable_segments(dirty), internal=True)
        if delta is not None:
            part = part.unionByName(
                self._conform(
                    delta.withColumn("_seg", seg_of).filter(F.col("_seg").isin(dirty)).drop("_seg"),
                    internal=True,
                )
            )
        merged = mvcc_compact(part, ts).filter(
            ~((F.col(DELMARK) == 1) & (F.col(VERSION) <= ts))
        )
        rd_flt = self._range_del_filter(ts)
        if rd_flt is not None:
            merged = merged.filter(rd_flt)
        tmp = self._stage_dir("segdata")
        self._write_segmented(merged.withColumn("_seg", seg_of), tmp)
        # widen the outer manifest bounds to any new handle range the delta
        # introduced, so read_range pruning stays sound; staged into the
        # new version dir so bounds and data commit together
        if dlo is not None:
            # assignment is bounds-driven (_seg_assign_expr), so widening
            # the outermost bounds both fixes pruning AND routes future
            # out-of-range handles consistently
            self._widen_outer_bounds(man, dlo, dhi)
        # a dirty segment that went all-tombstone has no dir in the new
        # version; the swap retires the old stable + delta in one step
        self._commit_segments(
            tmp, dirty, man, retire_delta=True, carry_range_dels=rd_carry
        )
        return (len(dirty), n)

    def ingest_snapshot(self, df: DataFrame, version: int) -> int:
        """Bulk-load a snapshot DIRECTLY into the stable layer, bypassing
        the delta — the reference's SST ingest path
        (Storages/DeltaMerge/DeltaMergeStore_Ingest.cpp,
        Decode/SSTFilesToBlockInputStream.h): pre-built files land as
        stable data in one move instead of trickling through the write
        path. MVCC semantics are preserved — rows are stamped with
        ``version`` and snapshot reads still resolve newest-per-handle, so
        ingesting over an existing handle upserts exactly like a delta
        write would.

        Files are laid out to match the CURRENT stable layout (hash
        segments via the persisted ``_SEGMENTS`` modulus, range segments
        via the ``_MANIFEST`` clamp — whose pruning bounds widen to cover
        the new handle span — or flat), so every pruning path stays
        sound. Returns rows ingested."""
        from pyspark.sql import functions as F

        fields = self.current_fields()
        if fields is not None:
            known = {n for n, _ in fields} | {HANDLE}
            extra = [c for c in df.columns if c not in known]
            if extra:
                raise ValueError(
                    f"snapshot columns {extra} not in schema v{self.schema_version()}"
                )
            df = self._conform_user_write(df, fields)
        out = df.withColumn(VERSION, F.lit(version).cast("long")).withColumn(
            DELMARK, F.lit(0).cast("int")
        )
        man = self._manifest()
        n_seg = self._num_segments()
        # write the new files into a staging dir, then commit them with
        # the current version's files in one pointer swap (the ingest
        # either fully happened or didn't — the reference applies an SST
        # ingest atomically per region too)
        tmp = self._stage_dir("ingestdata")
        seg_of = None
        if man:
            seg_of = self._seg_assign_expr(man)
            dlo, dhi = out.agg(F.min(HANDLE), F.max(HANDLE)).collect()[0]
            if dlo is not None:
                self._widen_outer_bounds(man, dlo, dhi)
        elif n_seg:
            seg_of = F.pmod(F.xxhash64(F.col(HANDLE)), F.lit(n_seg))
        if seg_of is None:
            (
                out.repartition(HANDLE)
                .sortWithinPartitions(HANDLE)
                .write.mode("overwrite")
                .parquet(tmp)
            )
        else:
            self._write_segmented(out.withColumn("_seg", seg_of), tmp)
        touched: list[int] = []
        if seg_of is not None and self._index_metas():
            touched = [
                int(r.s)
                for r in out.select(seg_of.alias("s")).distinct().collect()
            ]
        self._commit_segments(tmp, touched, man, replace=False)
        return out.count()

    @staticmethod
    def _merge_staged_files(src: str, dst: str) -> None:
        """Move the data files of a staged Spark write into an
        under-construction version dir (same relative layout, partition
        dirs created as needed). Each part file keeps its ``.part-*.crc``
        checksum file, so Hadoop verifies it on read; the job markers
        (``_SUCCESS`` and its ``._SUCCESS.crc``) are skipped. Spark
        part-file names embed a job UUID so collisions with hardlinked
        existing files cannot happen."""
        for root, _dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            tdir = dst if rel == "." else os.path.join(dst, rel)
            for f in files:
                if f.startswith(("_", "._")):
                    continue
                os.makedirs(tdir, exist_ok=True)
                os.rename(os.path.join(root, f), os.path.join(tdir, f))
        shutil.rmtree(src, ignore_errors=True)

    @staticmethod
    def _write_segmented(df: DataFrame, path: str) -> None:
        """Write rows that carry ``_seg`` as one handle-sorted partition
        dir per segment."""
        (
            df.repartition("_seg")
            .sortWithinPartitions(HANDLE)
            .write.partitionBy("_seg")
            .mode("overwrite")
            .parquet(path)
        )

    def _commit_segments(
        self,
        data: str,
        segs,
        man: dict | None,
        replace: bool = True,
        retire_delta: bool = False,
        carry_range_dels: list[dict] | None = None,
    ) -> None:
        """Commit a rewrite of the stable segments ``segs`` whose new
        ``_seg=K`` files Spark wrote to ``data``. The next stable version
        is staged from hardlinks of the current one (its files are
        immutable, so versions share them) with the touched segment dirs
        replaced by ``data``'s (``replace=False`` adds ``data``'s files to
        them instead: the bulk ingest) and ``man`` as its ``_MANIFEST``.
        Every index is staged without ``segs``, the `_CURRENT` swap
        commits data, manifest and indexes together, and the touched
        segments' index entries are refreshed after it. ``retire_delta``
        and ``carry_range_dels`` are handed to ``_promote``."""
        segs = sorted({int(s) for s in segs})
        stage = self._stage_dir("commit")
        skip = self._stage_indexes(stage, segs)
        if man is not None:
            skip.add("_MANIFEST")
        if replace:
            skip |= {f"_seg={s}" for s in segs}
        self._link_tree(self.stable_path(), stage, skip=skip)
        if replace:
            # whole dirs, so each part file keeps its checksum file
            for s in segs:
                src = os.path.join(data, f"_seg={s}")
                if os.path.exists(src):
                    os.rename(src, os.path.join(stage, f"_seg={s}"))
        self._merge_staged_files(data, stage)
        if man is not None:
            _write_json(os.path.join(stage, "_MANIFEST"), man)
        self._fail("staged")
        self._promote(stage, retire_delta=retire_delta, carry_range_dels=carry_range_dels)
        self._refresh_indexes(segs)

    # --- segment lifecycle: split / merge -----------------------------------

    def split_segment(self, seg_id: int | None = None) -> tuple[int, int]:
        """Split one range segment in two at its median handle — the
        reference's Segment::split, triggered there when a segment
        outgrows its target size (DeltaMergeStore.h segment lifecycle;
        Segment.cpp split paths). Only the chosen segment's partition dir
        is rewritten; every other segment's files are untouched, and the
        manifest bounds stay contiguous so reads/pruning/assignment keep
        working mid-lifecycle.

        ``seg_id=None`` picks the largest segment (row count — one tiny
        per-segment count aggregate). The split point is the exact median
        handle via a distributed percentile (never a driver-side sort).
        Returns (old_seg_id, new_seg_id)."""
        man = self._manifest()
        if not man:
            raise ValueError("segment split needs range segments "
                             "(run compact_range_segments first)")
        if seg_id is None:
            counts = self._seg_counts()
            if not counts:
                raise ValueError("empty stable layer — nothing to split")
            seg_id = max(counts, key=lambda s: (counts[s], -s))
        key = str(seg_id)
        if key not in man["bounds"]:
            raise ValueError(f"segment {seg_id} not in manifest")
        blo, bhi = man["bounds"][key]
        rows = self._stable_segments([seg_id])
        if isinstance(blo, str):
            # common-handle segment: median = smallest handle of the upper
            # half (an actual key, so strictly inside when splittable)
            from pyspark.sql import Window

            mid = (
                rows.withColumn("_half", F.ntile(2).over(Window.orderBy(HANDLE)))
                .filter(F.col("_half") == 2)
                .agg(F.min(HANDLE).alias("m"))
                .collect()[0]
                .m
            )
        else:
            mid = rows.agg(
                F.expr(f"CAST(percentile({HANDLE}, 0.5) AS LONG)").alias("m")
            ).collect()[0].m
        if mid is None or mid <= blo or mid >= bhi:
            raise ValueError(
                f"segment {seg_id} cannot split: median {mid} not strictly "
                f"inside [{blo}, {bhi})"
            )
        new_id = max(int(k) for k in man["bounds"]) + 1
        tmp = self._stage_dir("splitdata")
        self._write_segmented(
            rows.withColumn(
                "_seg",
                F.when(F.col(HANDLE) < mid, F.lit(seg_id)).otherwise(F.lit(new_id)),
            ),
            tmp,
        )
        mid = mid if isinstance(mid, str) else int(mid)
        man["bounds"][key] = [blo, mid]
        man["bounds"][str(new_id)] = [mid, bhi]
        man["n"] = len(man["bounds"])
        # one pointer swap commits both halves and the new bounds
        # (reference Segment::split is a meta-atomic segment-tree update
        # the same way)
        self._commit_segments(tmp, [seg_id, new_id], man)
        return (seg_id, new_id)

    def merge_segments(self, left_id: int, right_id: int) -> int:
        """Merge two RANGE-ADJACENT segments into the left one — the
        reference's Segment::merge (undersized neighbors fold together so
        the segment count tracks data size both ways). Rewrites only the
        two partition dirs into one; returns the surviving segment id."""
        man = self._manifest()
        if not man:
            raise ValueError("segment merge needs range segments")
        lk, rk = str(left_id), str(right_id)
        if lk not in man["bounds"] or rk not in man["bounds"]:
            raise ValueError(f"segments {left_id}/{right_id} not in manifest")
        (llo, lhi), (rlo, rhi) = man["bounds"][lk], man["bounds"][rk]
        if lhi != rlo:
            raise ValueError(
                f"segments not range-adjacent: [{llo},{lhi}) vs [{rlo},{rhi})"
            )
        rows = self._stable_segments([left_id, right_id])
        tmp = self._stage_dir("mergedata")
        self._write_segmented(rows.withColumn("_seg", F.lit(left_id)), tmp)
        man["bounds"][lk] = [llo, rhi]
        del man["bounds"][rk]
        man["n"] = len(man["bounds"])
        self._commit_segments(tmp, [left_id, right_id], man)
        return left_id

    def delta_rows(self) -> int:
        """Size of the un-compacted delta tail (rows), summed from the
        parquet footers of the delta's data files — no Spark job, so a
        below-threshold ``maintain()`` costs only file metadata."""
        d = self.delta_path()
        files = cache.tree_stamp(d)
        return self._footers("delta", d, files)[0] if files else 0

    def _delta_has_files(self) -> bool:
        """Cheap driver-side emptiness probe: does the delta dir hold any
        data file? Listing beats a delta.count() Spark job when the only
        question is 'is there a tail at all' (read_where's rescue-join
        decision). Conservative: any data file ⇒ True, even if every row
        in it is a tombstone — a false True only adds a no-op join."""
        return bool(cache.tree_stamp(self.delta_path()))

    # --- segment indexes: the lifecycle over _INDEX_KINDS -------------------

    def _index_meta(self, kind: str, layer_dir: str | None = None):
        spec = _INDEX_KINDS[kind]
        return _read_json(
            os.path.join(layer_dir or self.stable_path(), spec.meta), spec.empty()
        )

    def _write_index_meta(self, kind: str, meta, layer_dir: str | None = None) -> None:
        _write_json(
            os.path.join(layer_dir or self.stable_path(), _INDEX_KINDS[kind].meta), meta
        )

    def _index_dir(self, kind: str, col: str, layer_dir: str | None = None) -> str:
        return os.path.join(
            layer_dir or self.stable_path(), _INDEX_KINDS[kind].prefix + col
        )

    def _index_metas(self, kinds=_INDEX_KINDS) -> dict:
        """The non-empty index metas of the live stable version, by kind."""
        metas = {k: self._index_meta(k) for k in kinds}
        return {k: m for k, m in metas.items() if m}

    def _segmented_stable(self, what: str) -> DataFrame:
        """The stable layer, which ``what`` (an index) needs segmented."""
        stable = self._layer("stable")
        if stable is None or "_seg" not in stable.columns:
            raise ValueError(f"{what} needs a segmented stable layer "
                             "(compact with num_segments / range segments)")
        return stable

    def _build_index(self, kind: str, meta: dict) -> int:
        """Register ``meta`` and index every stable segment under it;
        returns segments covered."""
        self._write_index_meta(kind, meta)
        segs = self._all_seg_ids()
        self._refresh_indexes(segs, kinds=(kind,))
        return len(segs)

    def _stage_indexes(self, stage: str, segs) -> set[str]:
        """Stage every index meta without ``segs`` into ``stage``, the
        version dir that rewrites them, and return what its hardlink pass
        must skip: those metas and the segments' posting partitions."""
        segs = {int(s) for s in segs}
        skip: set[str] = set()
        for kind, meta in self._index_metas().items():
            spec = _INDEX_KINDS[kind]
            self._write_index_meta(kind, spec.drop(meta, segs), layer_dir=stage)
            skip.add(spec.meta)
            if spec.prefix:
                skip |= {
                    os.path.join(spec.prefix + c, f"_seg={s}") for c in meta for s in segs
                }
        return skip

    def _refresh_indexes(self, segs, kinds=_INDEX_KINDS) -> None:
        """Rebuild every index's entries for ``segs`` from the current
        stable files: unregister, rewrite, re-register. Columns a DDL
        dropped from stable lose their index; a segment with no stable
        rows left stays uncovered."""
        segs = {int(s) for s in segs}
        metas = self._index_metas(kinds)
        if not segs or not metas:
            return
        stable = self._layer("stable")
        rows = None
        if stable is not None and "_seg" in stable.columns:
            rows = stable.filter(F.col("_seg").isin(sorted(segs)))
        have = segs & self._all_seg_ids()
        for kind, meta in metas.items():
            spec = _INDEX_KINDS[kind]
            meta = spec.drop(meta, segs)
            self._write_index_meta(kind, meta)
            if rows is not None:
                meta = self._without_dropped_columns(kind, meta, rows.columns)
                meta = getattr(self, spec.build)(meta, rows, segs, have)
                self._write_index_meta(kind, meta)

    def _rebuild_indexes(self, prior: dict) -> None:
        """After a whole-stable rewrite, rebuild every index in ``prior``
        (the metas captured before the swap: the version dir they lived
        in is retired). Until this lands the new version has NO index —
        scan, never a stale prune; an unsegmented layout keeps none (no
        segment level to index)."""
        if not prior:
            return
        stable = self._layer("stable")
        if stable is None or "_seg" not in stable.columns:
            return
        for kind, meta in prior.items():
            spec = _INDEX_KINDS[kind]
            meta = spec.drop(meta, set().union(*spec.covers(meta).values()))
            meta = self._without_dropped_columns(kind, meta, stable.columns)
            if spec.retrain:
                meta = getattr(self, spec.retrain)(meta, stable)
            if spec.covers(meta):
                self._write_index_meta(kind, meta)
        self._refresh_indexes(self._all_seg_ids())

    def _without_dropped_columns(self, kind: str, meta, columns) -> dict:
        """``meta`` without the indexed columns missing from ``columns``
        (a DDL dropped them), whose posting dirs are removed too."""
        spec = _INDEX_KINDS[kind]
        for c in set(spec.covers(meta)) - set(columns):
            meta = spec.forget(meta, c)
            if spec.prefix:
                shutil.rmtree(self._index_dir(kind, c), ignore_errors=True)
        return meta

    def _forget_index_column(self, name: str) -> None:
        """Drop every index on column ``name`` (MODIFY / RENAME: the index
        reflects the stored bytes of the old type or name); absent
        means scan, so reads stay correct."""
        for kind in _INDEX_KINDS:
            self.drop_index(kind, name)

    def _write_postings(
        self, kind: str, col: str, postings: DataFrame, segs,
        sort: str | None = None, parts: tuple[str, ...] = ("_seg",),
    ) -> None:
        """Replace column ``col``'s posting partitions of ``segs`` with
        ``postings``, written partitioned by ``parts``."""
        idx_dir = self._index_dir(kind, col)
        tmp = self._stage_dir(kind)
        w = postings.repartition(*parts)
        if sort:
            w = w.sortWithinPartitions(sort)
        w.write.partitionBy(*parts).mode("overwrite").parquet(tmp)
        for s in segs:
            dst = os.path.join(idx_dir, f"_seg={s}")
            shutil.rmtree(dst, ignore_errors=True)
            src = os.path.join(tmp, f"_seg={s}")
            if os.path.exists(src):
                os.makedirs(idx_dir, exist_ok=True)
                os.rename(src, dst)
        shutil.rmtree(tmp, ignore_errors=True)

    def _index_covers(self) -> dict[str, dict[str, set[int]]]:
        """Per index kind: each indexed column's covered segments."""
        return {
            k: spec.covers(m) if (m := self._index_meta(k)) else {}
            for k, spec in _INDEX_KINDS.items()
        }

    # --- rough-set filter: per-segment zone map (min-max index) -------------
    #
    # Reference: every DMFile pack carries a per-column min-max index
    # (dbms/src/Storages/DeltaMerge/Index/MinMaxIndex.h:31) consulted by the
    # rough-set filter (Index/RoughCheck.h; RSResult.h Some/All/None verdicts)
    # that FilterParser builds from the pushed-down predicate
    # (FilterParser/FilterParser.cpp) — packs whose value range cannot match
    # are never read. Spark-first: parquet row-group stats already give
    # pack-level skipping INSIDE a file for free; this zone map adds the
    # level above — per-SEGMENT min/max on arbitrary NON-KEY columns, so a
    # predicate on e.g. an event-time column prunes whole partition
    # directories at file-listing time. At 100 TB (millions of files) the
    # listing-level skip is the one that matters: row-group stats still cost
    # a footer read per file.

    _ZM_TYPES = {
        "tinyint", "smallint", "int", "bigint", "float", "double",
        "string", "date", "timestamp", "timestamp_ntz",
    }

    def _zm_agg_exprs(self, cols: dict[str, str]) -> list:
        exprs = []
        for c, t in cols.items():
            base = t.split("(")[0]
            # temporal mins/maxes stored as ISO strings (JSON-portable;
            # lexicographic order == chronological for a fixed format)
            col = (
                F.col(c).cast("string")
                if base in ("date", "timestamp", "timestamp_ntz")
                else F.col(c)
            )
            exprs.append(F.min(col).alias(f"__mn_{c}"))
            exprs.append(F.max(col).alias(f"__mx_{c}"))
            # null count per segment: the reference's has_null enrichment
            # (docs/design/2022-10-20-enhance-null-value-support-for-
            # minmax-index.md) — lets IS NULL predicates prove a segment
            # cannot match (n_null == 0), symmetric with the range check
            exprs.append(
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}")
            )
        return exprs

    def build_zonemap(self, cols: list[str]) -> int:
        """Index the given non-key columns with per-segment [min, max]
        (reference MinMaxIndex, written per DMFile at compaction time).
        Requires a segmented stable layer (hash or range). One map-side
        partial aggregation over stable; returns segments indexed."""
        dtypes = dict(self._segmented_stable("zone map").dtypes)
        for c in cols:
            if c not in dtypes:
                raise ValueError(f"column {c!r} not in stable layer")
            if dtypes[c].split("(")[0] not in self._ZM_TYPES:
                raise ValueError(
                    f"column {c!r} type {dtypes[c]} not zone-mappable"
                )
        return self._build_index(
            "zonemap", {"cols": {c: dtypes[c] for c in cols}, "segs": {}}
        )

    def _zonemap_build(self, zm: dict, rows: DataFrame, segs, have) -> dict:
        """Entries for the segments in ``rows``: [min, max, null count] of
        every mapped column still in stable, from one grouped aggregate
        (the reference rewrites a DMFile's MinMaxIndex with the file)."""
        dtypes = dict(rows.dtypes)
        cols = {c: t for c, t in zm["cols"].items() if c in dtypes}
        if cols:
            for r in (
                rows.groupBy(F.col("_seg").alias("s"))
                .agg(*self._zm_agg_exprs(cols))
                .collect()
            ):
                zm["segs"][str(int(r.s))] = {
                    c: [r[f"__mn_{c}"], r[f"__mx_{c}"], int(r[f"__nn_{c}"])]
                    for c in cols
                }
        return zm

    def _zm_render_bound(self, bound, col_type: str):
        """Render a query bound EXACTLY the way the stored temporal
        min/max were rendered: through Spark's own cast-to-string on a
        one-row frame. Python's str(datetime) pads microseconds
        ('…00.123000') while Spark trims trailing zeros ('…00.123'), so
        a Python-side str() would compare unequal for the same instant
        and wrongly prune. Returns None when Spark cannot interpret the
        bound as the column's type (epoch int vs timestamp, etc.) —
        callers must treat that as 'cannot prune'."""
        import datetime as _dt

        if not isinstance(bound, (str, _dt.date, _dt.datetime)):
            # epoch ints/floats: read_where's Spark filter may coerce
            # them differently than a string render — never prune
            return None
        try:
            row = (
                self.spark.range(1)
                .select(F.lit(bound).cast(col_type).cast("string").alias("b"))
                .first()
            )
            return row.b
        except Exception:
            return None

    def _zm_pruned_segs(self, col: str, lo, hi) -> list[int]:
        """Segment ids the rough check proves CANNOT contain a row with
        ``lo <= col <= hi`` (RSResult::None). Unknown segments are never
        returned — absent entry ⇒ scan, and a bound that cannot be
        compared with the stored min/max (wrong Python type, temporal
        rendering mismatch) also ⇒ scan: the absent verdict must mean
        scan, never a silent prune (reference RSResult semantics)."""
        zm = self._index_meta("zonemap")
        log_cols_ok = zm and col in zm.get("cols", {})
        if not log_cols_ok:
            return []
        col_type = zm["cols"][col]
        base = col_type.split("(")[0]
        as_str = base in ("date", "timestamp", "timestamp_ntz")
        qlo, qhi = lo, hi
        if as_str:
            if lo is not None:
                qlo = self._zm_render_bound(lo, col_type)
                if qlo is None:
                    lo = None  # uninterpretable bound: never prune on it
            if hi is not None:
                qhi = self._zm_render_bound(hi, col_type)
                if qhi is None:
                    hi = None
            if lo is None and hi is None:
                return []
        pruned = []
        for k, ent in zm["segs"].items():
            if col not in ent:
                continue
            mn, mx = ent[col][0], ent[col][1]
            if mn is None:
                # every row in the segment is NULL for this column — a
                # range predicate matches none of them
                pruned.append(int(k))
                continue
            try:
                if (qhi is not None and mn > qhi) or (
                    qlo is not None and mx < qlo
                ):
                    pruned.append(int(k))
            except TypeError:
                # bound not comparable with the stored min/max (e.g. int
                # bound on a string column that read_where's Spark filter
                # would accept via implicit cast) — cannot prune
                continue
        return pruned

    def _zm_null_pruned_segs(self, col: str) -> list[int]:
        """Segments PROVEN to hold no NULL for ``col`` (n_null == 0) —
        prunable for an IS NULL predicate. Entries written before the
        null count existed (2-element [min, max]) cannot prove anything
        and are never pruned (absent verdict ⇒ scan)."""
        zm = self._index_meta("zonemap")
        if not zm or col not in zm.get("cols", {}):
            return []
        return [
            int(k)
            for k, ent in zm["segs"].items()
            if col in ent and len(ent[col]) >= 3 and ent[col][2] == 0
        ]

    def read_where_null(self, col: str, ts: int | None = None) -> DataFrame:
        """Snapshot read of rows where ``col`` IS NULL, pruned by the
        zone map's per-segment null counts (reference has_null MinMax
        enrichment, docs/design/2022-10-20). Same plan-time-snapshot
        contract and MVCC delta rescue as read_where."""
        log = self.log()
        pruned = (
            self._zm_null_pruned_segs(col)
            if "_seg" in log.columns and not self._ddl_shadowed(col)
            else []
        )
        return self._pruned_read("read_where_null", log, pruned, ts, F.col(col).isNull())

    def read_where(self, col: str, lo=None, hi=None, ts: int | None = None) -> DataFrame:
        """Snapshot read with a range predicate ``lo <= col <= hi`` on an
        arbitrary column (either bound optional), rough-set-pruned by the
        zone map when one covers ``col`` — the reference's
        MinMaxIndex + RoughCheck path for pushed-down filters.

        MVCC-sound by construction: the rough filter only skips SEGMENTS,
        never overrides the version merge (reference RSResult semantics).
        A pruned segment could still hold the newest version of a handle
        that also has rows in the delta (e.g. after a bulk ingest_snapshot
        stamped a high version straight into stable); dropping it would
        resurrect the masked delta row. Those handles are rescued with a
        broadcast semi-join of the pruned segments against the delta's
        handle set — the delta is small by compaction cadence, and with an
        empty delta the rescue scan is skipped entirely.

        Like read_range, the returned DataFrame is a PLAN-TIME SNAPSHOT:
        segment pruning and the delta-emptiness probe are resolved here,
        on the driver, so a mutation between construction and action
        (an ingest_snapshot into a pruned segment, a delta write after
        the emptiness check) is not reflected at collect time. Re-call
        read_where after mutating, exactly as the reference takes a new
        storage snapshot per query."""
        if lo is None and hi is None:
            raise ValueError("read_where needs at least one bound")
        log = self.log()
        pruned = self._conj_pruned_segs(log, [(col, "range", (lo, hi))])
        bounds = [F.col(col) >= F.lit(lo)] if lo is not None else []
        if hi is not None:
            bounds.append(F.col(col) <= F.lit(hi))
        return self._pruned_read("read_where", log, pruned, ts, *bounds)

    def _conj_pruned_segs(self, log: DataFrame, norm: list[tuple]) -> list[int]:
        """Segments some conjunct's index proves hold no match: the
        inverted index for IN lists (``_norm_conj`` form), the zone map
        for ranges. A segment any conjunct excludes cannot hold a
        surviving row, so the lists union. Columns whose visible values
        DDL shadows are never pruned on (``_ddl_shadowed``)."""
        pruned: list[int] = []
        if "_seg" not in log.columns:
            return pruned
        for c, kind, arg in norm:
            if self._ddl_shadowed(c):
                continue
            if kind == "in":
                segs = self._invidx_pruned_segs(c, arg)
            else:
                segs = self._zm_pruned_segs(c, *arg)
            pruned += [s for s in segs if s not in pruned]
        return pruned

    def _pruned_read(self, method: str, log: DataFrame, pruned, ts: int | None,
                     *preds) -> DataFrame:
        """The tail of every index-pruned scan: record the scan profile,
        drop the pruned segments (with the delta rescue), take the
        visible rows, then filter by each of ``preds``. The filters come
        AFTER the conform so they bind to VISIBLE values: a RENAMEd
        column's data lives under prior stored names, an ADD-DEFAULT
        column's pre-DDL rows are visibly the default, a generated
        column is never stored at all."""
        self._record_scan_profile(method, pruned)
        out = self._visible(self._log_minus_segments(log, pruned), ts)
        for pred in preds:
            out = out.filter(pred)
        return out

    def _log_minus_segments(self, log: DataFrame, pruned) -> DataFrame:
        """Drop the pruned segments from the log, rescuing any handle the
        delta also touches (see read_where's MVCC-soundness note). The
        delta's handles are the log's NULL-``_seg`` rows (delta files
        carry no segment column), so the delta is not read a second time,
        and a left semi join needs no distinct on its build side."""
        if not pruned:
            return log
        keep = log.filter(~F.col("_seg").isin(pruned) | F.col("_seg").isNull())
        if self._delta_has_files():
            delta_handles = log.filter(F.col("_seg").isNull()).select(HANDLE)
            rescue = log.filter(F.col("_seg").isin(pruned)).join(
                F.broadcast(delta_handles), HANDLE, "left_semi"
            )
            keep = keep.unionByName(rescue, allowMissingColumns=True)
        return keep

    def _record_scan_profile(
        self, method: str, pruned, inlist: int | None = None
    ) -> None:
        total = len(self._all_seg_ids())
        self.last_scan_profile = {
            "method": method,
            "segments_total": total,
            "segments_pruned": len(pruned),
            "segments_scanned": (0 if inlist is not None
                                 else max(total - len(pruned), 0)),
            "handle_inlist": inlist,
            "delta_rescue": bool(pruned) and self._delta_has_files(),
        }

    # --- scalar inverted index ---------------------------------------------
    #
    # Reference: a storage-layer inverted index over arbitrary scalar
    # columns serves equality/IN predicates where the min-max rough check
    # cannot (dbms/src/Storages/DeltaMerge/Index/InvertedIndex/Reader.h,
    # schema dbms/src/TiDB/Schema/InvertedIndex.h). On a high-NDV column
    # with no handle correlation the zone map excludes almost nothing —
    # every segment's [min,max] spans the whole domain — while the
    # inverted index knows exactly which segments CONTAIN a value.
    #
    # Spark-first: per indexed column, a parquet sidecar dir
    # ``_INVIDX_<col>/_seg=K/`` inside the stable version dir holds the
    # DISTINCT (value, segment) pairs, sorted by value within files so a
    # point lookup prunes at parquet row-group level too. The `_INVIDX`
    # meta file lists which segments each column's index covers; only a
    # COVERED segment with no matching index row may be pruned (RSResult's
    # absent ⇒ scan). MVCC-sound via the same delta-handle rescue as the
    # zone map. At 100 TB the index is itself just a parquet table at
    # rest, kept per segment by the lifecycle at ``_INDEX_KINDS``.

    # --- index name registry + DROP INDEX ------------------------------------
    #
    # Reference: ALTER TABLE t DROP INDEX idx (fullstack-test-index/
    # inverted/create-on-*.test drop the index and re-create it). Index
    # DDL names live in a tiny `_INDEXES` registry at the store root;
    # dropping UNREGISTERS the meta first (presence semantics: readers
    # fall back to exact scans the moment the meta entry is gone, so a
    # crash between unregister and sidecar removal costs only orphan
    # files the next build sweeps).

    def named_indexes(self) -> dict:
        return _read_json(os.path.join(self.path, "_INDEXES"), {})

    def register_index_name(self, name: str, kind: str, col: str) -> None:
        idx = self.named_indexes()
        idx[name] = {"kind": kind, "col": col}
        _write_json(os.path.join(self.path, "_INDEXES"), idx)

    def drop_index(self, kind: str, col: str) -> None:
        """Remove one column's index: meta entry first (readers revert to
        exact scans immediately), then its posting files."""
        if kind == "secondary":
            # TiKV-side secondary/expression indexes: accepted as DDL
            # (name-registered, SHOW CREATE renders them) but carry no
            # sidecar here — the columnar engine scans
            return
        if kind not in _INDEX_KINDS:
            raise ValueError(f"unknown index kind {kind!r}")
        spec = _INDEX_KINDS[kind]
        meta = self._index_meta(kind)
        if meta and col in spec.covers(meta):
            self._write_index_meta(kind, spec.forget(meta, col))
        if spec.prefix:
            shutil.rmtree(self._index_dir(kind, col), ignore_errors=True)

    def drop_index_by_name(self, name: str) -> tuple[str, str]:
        """DROP INDEX by its DDL name; returns (kind, col)."""
        idx = self.named_indexes()
        if name not in idx:
            raise ValueError(f"no index named {name!r} (have: {sorted(idx)})")
        ent = idx.pop(name)
        self.drop_index(ent["kind"], ent["col"])
        _write_json(os.path.join(self.path, "_INDEXES"), idx)
        return ent["kind"], ent["col"]

    def build_inverted_index(self, cols: list[str]) -> int:
        """Index the given non-key columns for equality/IN pruning.
        Requires a segmented stable layer. One distinct-shuffle per
        column over stable (compaction-time cost, like the reference
        building the index when a DMFile is written). Returns segments
        covered."""
        dtypes = dict(self._segmented_stable("inverted index").dtypes)
        for c in cols:
            if c == HANDLE or c in _INTERNAL_COLS:
                raise ValueError(f"column {c!r} is internal — index a user column")
            if c not in dtypes:
                raise ValueError(f"column {c!r} not in stable layer")
        meta = self._index_meta("inverted")
        for c in cols:
            meta.setdefault(c, [])
        return self._build_index("inverted", meta)

    def _inverted_build(self, meta: dict, rows: DataFrame, segs, have) -> dict:
        """Postings per column: the DISTINCT (value, segment) pairs of
        ``rows``, sorted by value."""
        for c in meta:
            self._write_postings(
                "inverted", c,
                rows.select(F.col(c).alias("v"), "_seg").distinct(), segs, sort="v",
            )
            meta[c] = sorted(set(meta[c]) | have)
        return meta

    def _invidx_pruned_segs(self, col: str, values: list) -> list[int]:
        """Segment ids the inverted index PROVES cannot contain any of
        ``values``: covered by the index and absent from its postings.
        Unknown/uncovered segments are never returned."""
        meta = self._index_meta("inverted")
        covered = {int(s) for s in meta.get(col, [])}
        if not covered:
            return []
        try:
            idx = self.spark.read.parquet(self._index_dir("inverted", col))
            hit = {
                int(r.s)
                for r in idx.filter(F.col("v").isin(list(values)))
                .select(F.col("_seg").alias("s"))
                .distinct()
                .collect()
            }
        except Exception:
            return []  # unreadable index must mean scan, never prune
        return sorted(covered - hit)

    def read_where_in(self, col: str, values: list, ts: int | None = None) -> DataFrame:
        """Snapshot read with an equality/IN predicate on an arbitrary
        column, pruned by the scalar inverted index when one covers
        ``col`` (reference InvertedIndex/Reader.h point-lookup path). The
        lookup itself is one tiny scan of the sorted postings sidecar —
        row-group stats narrow it to the blocks containing the probed
        values. Same plan-time-snapshot contract and MVCC delta-rescue as
        read_where."""
        if not values:
            raise ValueError("read_where_in needs at least one value")
        values = list(values)
        log = self.log()
        pruned = self._conj_pruned_segs(log, [(col, "in", values)])
        return self._pruned_read("read_where_in", log, pruned, ts, F.col(col).isin(values))

    # --- late materialization -----------------------------------------------
    #
    # Reference: LateMaterializationBlockInputStream
    # (dbms/src/Storages/DeltaMerge/LateMaterializationBlockInputStream.h:25-31):
    # the scan reads ONLY the pushed-filter columns first, evaluates the
    # filter into a bitmap, then reads the remaining (often wide) columns
    # just for the surviving packs/rows — heavy column bytes are never
    # decoded for rows the filter kills. Spark-first two-phase read:
    #
    #   phase 1  narrow scan [handle, filter col] over index-pruned
    #            segments → MVCC winner pick → predicate → surviving
    #            handles (the "bitmap"), plus one tiny (count, min, max)
    #            aggregate.
    #   phase 2  payload columns for the survivors only:
    #            - few survivors (selective filter — LM's sweet spot):
    #              a handle IN-list pushed INTO the payload scan
    #              (PushedFilters + row-group skip on the handle-sorted
    #              stable) — no join at all, exactly read_handles;
    #            - many survivors: payload scan bounded to the survivor
    #              handle range (row-group skip) + a handle semi-join,
    #              AQE free to broadcast the narrow survivor side.
    #
    # Column pruning keeps phase 1's ReadSchema to the filter column —
    # the payload bytes are read once, for winners only, matching the
    # reference's pack-skip semantics at parquet row-group granularity.

    LM_INLIST_LIMIT = 8192
    LM_SELECTIVITY_FALLBACK = 0.5  # above this survivor fraction, single-scan

    def read_late(
        self,
        col: str,
        lo=None,
        hi=None,
        values: list | None = None,
        payload_cols: list[str] | None = None,
        ts: int | None = None,
    ) -> DataFrame:
        """Two-phase late-materialized snapshot read: filter on ``col``
        (range ``lo``/``hi`` or equality ``values``), fetch
        ``payload_cols`` (default: all user columns) only for surviving
        handles. Result rows/values are identical to
        ``read_where``/``read_where_in`` projected to the payload — the
        difference is plan shape and bytes read. Same plan-time-snapshot
        contract as read_where (phase 1 runs eagerly here, on the
        driver's snapshot)."""
        if values is None and lo is None and hi is None:
            raise ValueError("read_late needs a range bound or a values list")
        pred = (col, values) if values is not None else (col, lo, hi)
        return self.read_late_conj([pred], payload_cols=payload_cols, ts=ts)

    def read_late_conj(
        self,
        preds: list[tuple],
        payload_cols: list[str] | None = None,
        ts: int | None = None,
    ) -> DataFrame:
        """Conjunction form of late materialization — the reference
        pushes the WHOLE pushable filter conjunction into the scan
        (Filter/PushDownExecutor + LateMaterializationBlockInputStream),
        not one predicate. ``preds``: list of ``(col, lo, hi)`` range
        triples (either bound may be None) or ``(col, values)`` IN
        pairs. Segment pruning takes the UNION of every predicate's
        prunable segments (a segment any conjunct excludes cannot hold a
        surviving row); phase 1 scans only the filter columns; phase 2
        fetches payload for survivors of the full conjunction."""
        if not preds:
            raise ValueError("read_late_conj needs at least one predicate")
        norm = self._norm_conj(preds)
        fields = self.current_fields()
        all_cols = (
            [n for n, _ in fields]
            if fields is not None
            else [
                c
                for c in self.log().columns
                if c not in (HANDLE, *_INTERNAL_COLS)
            ]
        )
        payload_cols = list(payload_cols) if payload_cols is not None else all_cols
        unknown = [c for c in payload_cols if c not in all_cols]
        if unknown:
            raise ValueError(f"payload columns {unknown} not in current schema")

        log = self.log()
        pruned = self._conj_pruned_segs(log, norm)
        self._record_scan_profile("read_late_conj", pruned)
        log = self._log_minus_segments(log, sorted(pruned))

        # phase 1: the filter-column stream — narrow by construction.
        # Scan the STORED sources (rename chains, generated-expression
        # inputs), then compute the VISIBLE filter columns so the
        # predicate binds to post-DDL values, exactly as read_where does.
        filter_cols = list(dict.fromkeys(c for c, _, _ in norm))
        if fields is not None:
            narrow = log.select(
                HANDLE, VERSION, DELMARK,
                *self._stored_sources(filter_cols, log.columns),
            )
        else:
            narrow = log.select(
                HANDLE, VERSION, DELMARK,
                *[c for c in filter_cols if c in log.columns],
            )
            for c in filter_cols:  # column added by DDL, no file has it yet
                if c not in narrow.columns:
                    narrow = narrow.withColumn(c, F.lit(None))
        pred = self._conj_expr(norm)
        vis = self._snapshot(narrow, ts)
        if fields is not None:
            # VERSION stays in scope for the ADD-DEFAULT commit gate
            vis = vis.select(
                F.col(HANDLE),
                *self._visible_exprs(filter_cols, vis.columns),
            )
        surv = vis.filter(pred).select(HANDLE)
        # one pass yields survivor count, handle bounds, AND the visible
        # total — the selectivity estimate the reference derives from its
        # rough index before enabling LM
        stats = vis.agg(
            F.count("*").alias("total"),
            F.count(F.when(pred, 1)).alias("n"),
            F.min(F.when(pred, F.col(HANDLE))).alias("lo"),
            F.max(F.when(pred, F.col(HANDLE))).alias("hi"),
        ).collect()[0]

        def _project(df: DataFrame) -> DataFrame:
            cols = [F.col(HANDLE)]
            types = dict(fields) if fields is not None else {}
            for n in payload_cols:
                if n in df.columns:
                    cols.append(F.col(n))
                else:
                    cols.append(F.lit(None).cast(types.get(n, "string")).alias(n))
            return df.select(*cols)

        if stats["n"] == 0:
            return _project(self.read(ts).limit(0))
        if stats["n"] <= self.LM_INLIST_LIMIT:
            handles = [r[HANDLE] for r in surv.collect()]
            return _project(self.read_handles(handles, ts))

        if stats["n"] > self.LM_SELECTIVITY_FALLBACK * stats["total"]:
            # low selectivity: most rows survive, so a second pass +
            # semi-join reads the payload bytes anyway and adds join
            # cost — fall back to ONE full-width scan (the reference
            # likewise enables LM only below a selectivity threshold;
            # tidb-ci/force_enable_lm exists precisely to override it)
            want = list(dict.fromkeys(payload_cols + filter_cols))
            if fields is not None:
                keep = [HANDLE, VERSION, DELMARK] + self._stored_sources(
                    want, log.columns
                )
                wide = log.select(*dict.fromkeys(keep))
                out = self._snapshot(wide, ts)
                out = out.select(
                    F.col(HANDLE), *self._visible_exprs(want, out.columns)
                ).filter(pred)
            else:
                keep = [HANDLE, VERSION, DELMARK] + [
                    c for c in want if c in log.columns
                ]
                wide = log.select(*dict.fromkeys(keep))
                for c in filter_cols:
                    if c not in wide.columns:
                        wide = wide.withColumn(c, F.lit(None))
                out = self._snapshot(wide, ts).filter(pred)
            return _project(out)

        # phase 2, many-survivor form: bounded payload scan + semi-join
        pl = log.filter(
            (F.col(HANDLE) >= F.lit(stats["lo"])) & (F.col(HANDLE) <= F.lit(stats["hi"]))
        )
        if fields is not None:
            keep = [HANDLE, VERSION, DELMARK] + self._stored_sources(
                payload_cols, pl.columns
            )
            rows = self._snapshot(pl.select(*dict.fromkeys(keep)), ts)
            rows = rows.select(
                F.col(HANDLE), *self._visible_exprs(payload_cols, rows.columns)
            )
        else:
            keep = [HANDLE, VERSION, DELMARK] + [
                c for c in payload_cols if c in pl.columns
            ]
            rows = self._snapshot(pl.select(*dict.fromkeys(keep)), ts)
        out = rows.join(surv, HANDLE, "left_semi")
        return _project(out)

    # --- vector index (storage-layer ANN) -----------------------------------
    #
    # Reference: the vector index is a STORAGE index — built per DMFile
    # by LocalIndexWriter at write/compaction time
    # (dbms/src/Storages/DeltaMerge/Index/VectorIndex/,
    # LocalIndexWriter.cpp), queried through the DeltaTree read path with
    # the MVCC/filter bitmap applied, and the un-indexed delta tail
    # searched exactly, so ANN results are snapshot-consistent. Spark-
    # first: an IVF posting sidecar `_VECIDX_<col>/_seg=K/_cl=C/` inside
    # the stable version dir holds (handle, vector) copies partitioned by
    # coarse cluster — probing n clusters prunes posting files at listing
    # level. A query (a) takes over-fetched candidates from the probed
    # postings, (b) VALIDATES them through read_handles (full MVCC:
    # updates win, tombstones and range deletes apply, values re-scored
    # from the CURRENT rows), (c) exact-scores the delta tail's handles
    # and any uncovered segments, and (d) merges. An uncovered segment is
    # searched exactly, so a crash or partial refresh (the lifecycle at
    # ``_INDEX_KINDS``) costs recall work, never correctness.

    VECIDX_CENTROIDS = 8
    VECIDX_PROBE = 2
    VECIDX_OVERFETCH = 4

    @staticmethod
    def _vec_dist2(a: list[float], b: list[float]) -> float:
        return sum((x - y) ** 2 for x, y in zip(a, b))

    def _vecidx_assign_expr(self, col: str, centroids: list[list[float]]):
        """argmin-L2 cluster id as one codegen expression (centroid count
        is small by design — the coarse quantizer)."""
        from tiflash_spark.functions.vector import vec_l2_distance

        dists = [
            vec_l2_distance(
                F.transform(F.col(col), lambda x: x.cast("double")),
                F.array(*[F.lit(float(v)) for v in c]),
            )
            for c in centroids
        ]
        best = F.lit(0)
        best_d = dists[0]
        for i in range(1, len(dists)):
            cond = dists[i] < best_d
            best = F.when(cond, F.lit(i)).otherwise(best)
            best_d = F.when(cond, dists[i]).otherwise(best_d)
        return best.cast("int")

    def build_vector_index(
        self, col: str, n_centroids: int | None = None, iterations: int = 2
    ) -> int:
        """Build the IVF posting sidecar for an array<float/double>
        column. Returns segments covered."""
        stable = self._segmented_stable("vector index")
        if col not in stable.columns:
            raise ValueError(f"column {col!r} not in stable layer")
        centroids = self._vec_centroids(
            stable, col, n_centroids or self.VECIDX_CENTROIDS, iterations
        )
        meta = self._index_meta("vector")
        meta[col] = {"centroids": centroids, "segs": []}
        return self._build_index("vector", meta)

    def _vec_centroids(
        self, stable: DataFrame, col: str, n_centroids: int, iterations: int = 2
    ) -> list[list[float]]:
        """Deterministic coarse quantizer: seeds = the vectors of the n
        smallest handles, refined with ``iterations`` Lloyd steps (means
        collected to the driver — n_centroids × dim scalars)."""
        rows = stable.filter(F.col(col).isNotNull())
        seeds = [
            [float(v) for v in r.vec]
            for r in rows.select(F.col(col).alias("vec"))
            .orderBy(F.col(HANDLE))
            .limit(n_centroids)
            .collect()
        ]
        if not seeds:
            raise ValueError(f"no non-null vectors in {col!r}")
        cents = seeds
        dim = len(cents[0])
        for _ in range(iterations):
            assign = self._vecidx_assign_expr(col, cents)
            means = (
                rows.select(assign.alias("_cl"), F.col(col).alias("vec"))
                .groupBy("_cl")
                .agg(
                    *[F.avg(F.col("vec")[i].cast("double")).alias(f"m{i}") for i in range(dim)]
                )
                .collect()
            )
            new = list(cents)
            for r in means:
                new[r._cl] = [float(r[f"m{i}"]) for i in range(dim)]
            cents = new
        return cents

    def _vector_retrain(self, meta: dict, stable: DataFrame) -> dict:
        """A whole-stable rewrite trains each column's quantizer afresh
        (the data may have shifted); a column left with no vector loses
        its index."""
        out = {}
        for c, m in meta.items():
            try:
                cents = self._vec_centroids(stable, c, len(m["centroids"]))
            except ValueError:
                continue  # e.g. all vectors gone
            out[c] = {**m, "centroids": cents}
        return out

    def _vector_build(self, meta: dict, rows: DataFrame, segs, have) -> dict:
        """IVF postings per column: (handle, vector) copies of ``rows``,
        partitioned by segment and coarse cluster."""
        for c, m in meta.items():
            assign = self._vecidx_assign_expr(c, m["centroids"])
            self._write_postings(
                "vector", c,
                rows.filter(F.col(c).isNotNull()).select(
                    HANDLE, F.col(c).alias("vec"), "_seg", assign.alias("_cl")
                ),
                segs, parts=("_seg", "_cl"),
            )
            meta[c] = {**m, "segs": sorted(set(m["segs"]) | have)}
        return meta

    def ann_topk(
        self,
        col: str,
        query: list[float],
        k: int = 10,
        n_probe: int | None = None,
        ts: int | None = None,
        overfetch: int | None = None,
        metric: str = "cosine",
    ) -> DataFrame:
        """Snapshot-consistent approximate top-k: (handle, score) for
        the k most similar VISIBLE rows — ``metric`` is "cosine"
        (similarity, the VEC_COSINE_DISTANCE index spelling) or "l2"
        (score = −L2 distance, the VEC_L2_DISTANCE spelling; higher is
        nearer either way so ordering and fusion code are shared). Index
        candidates are validated and re-scored through the MVCC read
        path (updates win, deletes and range tombstones apply); the
        delta tail and uncovered segments are scored exactly. The SAME
        IVF posting sidecar serves both metrics (its coarse quantizer
        probes by L2 regardless, the usual IVF posture). Like any
        validated-ANN, heavy deletion in the top region can under-fill
        k — raise ``overfetch`` to compensate (the documented posture of
        the filtered-ANN tier)."""
        from tiflash_spark.functions.vector import (
            vec_cosine_similarity,
            vec_l2_distance,
        )

        if metric not in ("cosine", "l2"):
            raise ValueError(f"metric must be 'cosine' or 'l2', not {metric!r}")
        n_probe = n_probe or self.VECIDX_PROBE
        overfetch = overfetch or self.VECIDX_OVERFETCH
        meta = self._index_meta("vector").get(col)
        qlit = F.array(*[F.lit(float(v)) for v in query])

        def scored(df: DataFrame) -> DataFrame:
            vec = F.transform(F.col(col), lambda x: x.cast("double"))
            expr = (
                vec_cosine_similarity(vec, qlit)
                if metric == "cosine"
                else -vec_l2_distance(vec, qlit)
            )
            return df.select(HANDLE, F.round(expr, 6).alias("score"))

        if not meta or not meta["segs"]:
            # no index: exact scan of the snapshot (brute-force tier)
            return (
                scored(self.read(ts).filter(F.col(col).isNotNull()))
                .orderBy(F.col("score").desc(), F.col(HANDLE))
                .limit(k)
            )
        covered = {int(s) for s in meta["segs"]}
        probe = sorted(
            range(len(meta["centroids"])),
            key=lambda i: self._vec_dist2(meta["centroids"][i], query),
        )[:n_probe]
        idx = self.spark.read.parquet(self._index_dir("vector", col)).filter(
            F.col("_cl").isin(probe) & F.col("_seg").isin(list(covered))
        )
        cand_handles = [
            r[HANDLE]
            for r in scored(idx.withColumnRenamed("vec", col))
            .orderBy(F.col("score").desc(), F.col(HANDLE))
            .limit(k * overfetch)
            .collect()
        ]
        # delta handles: new/updated rows the postings don't know about
        delta_handles = self._delta_handles()
        pool = list(dict.fromkeys(cand_handles + delta_handles))
        self._record_scan_profile("ann_topk", [], inlist=len(pool))
        legs = []
        if pool:
            legs.append(
                scored(
                    self.read_handles(pool, ts=ts).filter(F.col(col).isNotNull())
                )
            )
        uncovered = self._all_seg_ids() - covered
        if uncovered:
            # exact leg over segments the index does not cover; handles
            # with delta rows are already in the pool leg (full MVCC), so
            # exclude them here rather than double-score stale copies
            log = self.log().filter(F.col("_seg").isin(list(uncovered)))
            if delta_handles:
                log = log.filter(~F.col(HANDLE).isin(delta_handles))
            legs.append(scored(self._visible(log, ts).filter(F.col(col).isNotNull())))
        out = legs[0]
        for leg in legs[1:]:
            out = out.unionByName(leg)
        return (
            out.dropDuplicates([HANDLE])
            .orderBy(F.col("score").desc(), F.col(HANDLE))
            .limit(k)
        )

    def _all_seg_ids(self) -> set[int]:
        """Ids of the stable segments that hold rows: the ``_seg=K``
        partition dirs with a parquet file, read off the file listing
        instead of a distinct-collect job. ``__HIVE_DEFAULT_PARTITION__``
        (a NULL ``_seg``) names no segment and is left out."""
        out = set()
        for rel, _mtime, _size in cache.tree_stamp(self.stable_path()) or ():
            top = rel.split(os.sep, 1)[0]
            if (top.startswith("_seg=") and rel.endswith(".parquet")
                    and top != "_seg=__HIVE_DEFAULT_PARTITION__"):
                out.add(int(top[len("_seg="):]))
        return out

    # --- full-text index ----------------------------------------------------
    #
    # Reference: a per-segment full-text index answering match and scored
    # (BM25-style) search over the MVCC valid-rows bitmap
    # (dbms/src/Storages/DeltaMerge/Index/FullTextIndex/Reader.h
    # searchNoScore/searchScored, Writer.h; schema
    # dbms/src/TiDB/Schema/FullTextIndex.h). Spark-first: a parquet
    # postings sidecar ``_FTSIDX_<col>/_seg=K/`` of (term, handle, tf, dl)
    # rows, sorted by term within files so a term lookup prunes at parquet
    # row-group level, plus per-segment corpus stats (n_docs, sum_dl) in
    # the `_FTSIDX` meta so BM25's N/avgdl combine incrementally across
    # segment refreshes (the lifecycle at ``_INDEX_KINDS``). Same MVCC
    # posture as ann_topk: the index nominates candidates and prunes
    # segments; visibility and scores are decided on CURRENT values
    # through the snapshot read path, so a stale index can only cost
    # recall inside an unrefreshed window, never add or mis-score rows.

    def build_fulltext_index(self, col: str) -> int:
        """Index a string column for full-text match/scored search.
        Requires a segmented stable layer. One tokenize+explode shuffle
        over stable per build (the reference builds its index when a
        DMFile is written). Returns segments covered."""
        dtypes = dict(self._segmented_stable("full-text index").dtypes)
        if col == HANDLE or col in _INTERNAL_COLS:
            raise ValueError(f"column {col!r} is internal — index a user column")
        if col not in dtypes:
            raise ValueError(f"column {col!r} not in stable layer")
        if dtypes[col] != "string":
            raise ValueError(
                f"full-text index needs a string column, {col!r} is {dtypes[col]}"
            )
        meta = self._index_meta("fulltext")
        meta.setdefault(col, {"segs": [], "stats": {}})
        return self._build_index("fulltext", meta)

    def _fulltext_build(self, meta: dict, rows: DataFrame, segs, have) -> dict:
        """Postings per column — (term, handle, tf, dl) rows of ``rows``,
        sorted by term — plus each segment's (n_docs, sum_dl) stats."""
        from tiflash_spark.pipeline.fulltext import tokenize

        for c, m in meta.items():
            # index EVERY stable version of a handle (presence over any
            # version keeps segment pruning sound for reads at older ts);
            # tf/dl are the per-version max, so one version never inflates
            # another's counts
            docs = rows.filter(F.col(c).isNotNull()).select(
                HANDLE,
                "_seg",
                F.col(VERSION).alias("_v"),
                tokenize(F.col(c)).alias("_toks"),
            )
            terms = docs.select(
                HANDLE,
                "_seg",
                "_v",
                F.size("_toks").alias("dl"),
                F.explode("_toks").alias("term"),
            )
            postings = (
                terms.groupBy("_seg", "term", HANDLE, "_v")
                .agg(
                    F.count(F.lit(1)).cast("int").alias("tf"),
                    F.max("dl").alias("dl"),
                )
                .groupBy("_seg", "term", HANDLE)
                .agg(F.max("tf").alias("tf"), F.max("dl").alias("dl"))
            )
            self._write_postings("fulltext", c, postings, segs, sort="term")
            dlh = docs.groupBy("_seg", HANDLE).agg(
                F.max(F.size("_toks")).alias("dl")
            )
            stats = {
                str(int(r.s)): [int(r.n), int(r.t)]
                for r in dlh.groupBy(F.col("_seg").alias("s")).agg(
                    F.count(F.lit(1)).alias("n"),
                    F.coalesce(F.sum("dl"), F.lit(0)).alias("t"),
                ).collect()
            }
            for s in have:
                stats.setdefault(str(s), [0, 0])  # covered, all-NULL segment
            meta[c] = {
                "segs": sorted(set(m["segs"]) | have),
                "stats": {**m["stats"], **stats},
            }
        return meta


    def _fts_prune_state(self, col: str, w: str) -> tuple[list[int], list | None]:
        """FTS-index pruning decision for the normalized term ``w``:
        (prunable segment ids, bounded hit-handle list or None).
        Handle-level path only when every segment is covered (the
        reference's row bitmap); any failure degrades to scan."""
        meta = self._index_meta("fulltext").get(col)
        segs = self._all_seg_ids()
        pruned: list[int] = []
        hit_handles: list | None = None
        if meta and meta["segs"] and segs:
            covered = {int(s) for s in meta["segs"]}
            try:
                idx = self.spark.read.parquet(self._index_dir("fulltext", col))
                # ONE probe job yields both the hit segments and (when
                # bounded) the hit handles — the local index path is
                # driver-job-bound, so every fused round-trip matters
                pairs = (
                    idx.filter(F.col("term") == w)
                    .select(F.col("_seg").alias("s"), HANDLE)
                    .distinct()
                    .limit(self.LM_INLIST_LIMIT + 1)
                    .collect()
                )
                if len(pairs) <= self.LM_INLIST_LIMIT:
                    hit = {int(r.s) for r in pairs}
                    pruned = sorted(covered - hit)
                    if covered == segs:
                        hit_handles = [r[HANDLE] for r in pairs]
                else:
                    # unbounded hit-list: fall back to the segment-only
                    # probe (distinct segments are few by construction)
                    hit = {
                        int(r.s)
                        for r in idx.filter(F.col("term") == w)
                        .select(F.col("_seg").alias("s"))
                        .distinct()
                        .collect()
                    }
                    pruned = sorted(covered - hit)
            except Exception:
                pruned = []  # unreadable index => scan, never prune
                hit_handles = None
        return pruned, hit_handles

    def fts_match_word(self, col: str, word: str, ts: int | None = None) -> DataFrame:
        """Snapshot rows whose ``col`` contains the tokenizer-normalized
        word (reference searchNoScore). Covered segments whose postings
        lack the term are pruned (with the read_where delta-handle
        rescue); every surviving row is re-verified against CURRENT
        values with the same tokenizer, so delta writes and stale
        postings cannot surface wrong rows."""
        from tiflash_spark.pipeline.fulltext import tokenize

        w = word.lower()
        pred = F.array_contains(tokenize(F.col(col)), w)
        pruned, hit_handles = self._fts_prune_state(col, w)
        if hit_handles is not None:
            return self._hit_pool_read("fts_match_word", hit_handles, pred, ts, pruned)
        return self._pruned_read("fts_match_word", self.log(), pruned, ts, pred)

    def _delta_handles(self) -> list:
        """The handles the delta tail touches: one distinct job, none
        when the delta holds no data file."""
        if not self._delta_has_files():
            return []
        return [r[HANDLE] for r in self._layer("delta").select(HANDLE).distinct().collect()]

    def _hit_pool_read(self, method: str, hits: list, pred, ts: int | None,
                       pruned=()) -> DataFrame:
        """The index-served tail of a full-text match: the index's hit
        handles plus every handle the delta touches (rows the postings
        do not know), read as point lookups and re-verified by ``pred``
        on their CURRENT values. An empty pool reads as a typed empty
        frame."""
        pool = list(dict.fromkeys(list(hits) + self._delta_handles()))
        self._record_scan_profile(method, pruned, inlist=len(pool))
        if not pool:
            return self.read(ts).filter(pred).limit(0)
        return self.read_handles(pool, ts=ts).filter(pred)

    @staticmethod
    def _norm_conj(preds: list[tuple]) -> list[tuple]:
        """Normalize read_late_conj-style predicates: (col, lo, hi)
        ranges or (col, values) IN lists."""
        norm: list[tuple] = []
        for p in preds:
            if len(p) == 2:
                c, vals = p
                if not vals:
                    raise ValueError(f"empty IN list for column {c!r}")
                norm.append((c, "in", list(vals)))
            elif len(p) == 3:
                c, lo, hi = p
                if lo is None and hi is None:
                    raise ValueError(f"unbounded range predicate on {c!r}")
                norm.append((c, "range", (lo, hi)))
            else:
                raise ValueError(f"bad predicate {p!r}")
        return norm

    @staticmethod
    def _conj_expr(norm: list[tuple]):
        out = None
        for c, kind, arg in norm:
            if kind == "in":
                term = F.col(c).isin(arg)
            else:
                lo, hi = arg
                term = None
                if lo is not None:
                    term = F.col(c) >= F.lit(lo)
                if hi is not None:
                    t2 = F.col(c) <= F.lit(hi)
                    term = t2 if term is None else term & t2
            out = term if out is None else out & term
        return out

    def fts_match_phrase(
        self, col: str, phrase: str, ts: int | None = None
    ) -> DataFrame:
        """Snapshot rows containing the exact token phrase (reference
        FullTextIndex phrase query). Candidates are the intersection of
        the per-term posting hit-lists — positions are not needed for
        candidacy, only adjacency, which the exact re-verification
        decides: the row's CURRENT tokens joined by single spaces must
        contain the normalized phrase as a substring bounded by spaces.
        Falls back to the pruned scan exactly like fts_match_word."""
        from tiflash_spark.pipeline.fulltext import TOKEN_RE, tokenize

        import re as _re

        terms = [t for t in _re.split(TOKEN_RE, phrase.lower()) if t]
        if not terms:
            raise ValueError("empty phrase after tokenization")
        norm_phrase = " ".join(terms)
        pred = F.concat(
            F.lit(" "), F.array_join(tokenize(F.col(col)), " "), F.lit(" ")
        ).contains(f" {norm_phrase} ")
        if len(terms) == 1:
            return self.fts_match_word(col, terms[0], ts=ts).filter(pred)
        states = [self._fts_prune_state(col, t) for t in terms]
        hit_sets = [s[1] for s in states]
        if all(h is not None for h in hit_sets):
            inter = set(hit_sets[0]).intersection(*hit_sets[1:])
            return self._hit_pool_read("fts_match_phrase", sorted(inter), pred, ts)
        # scan path: a segment ANY term's postings exclude cannot hold
        # the phrase — union the prunable sets
        pruned = sorted(set().union(*(p for p, _ in states)))
        return self._pruned_read("fts_match_phrase", self.log(), pruned, ts, pred)

    def fts_match_boolean(
        self,
        col: str,
        must: list[str] | None = None,
        should: list[str] | None = None,
        must_not: list[str] | None = None,
        min_should: int = 1,
        ts: int | None = None,
    ) -> DataFrame:
        """Boolean retrieval over the store index (the pipeline-level
        fulltext_boolean surface, index-served): every ``must`` term
        present, at least ``min_should`` of ``should`` present (0 when
        the list is empty), no ``must_not`` term present. Candidates:
        intersection of the must hit-lists (∪ should lists when there
        is no must) — must_not never affects candidacy, only the exact
        re-verification, so a stale posting cannot wrongly exclude."""
        from tiflash_spark.pipeline.fulltext import tokenize

        must = [t.lower() for t in (must or [])]
        should = [t.lower() for t in (should or [])]
        must_not = [t.lower() for t in (must_not or [])]
        if not must and not should:
            raise ValueError("boolean search needs must or should terms")

        def pred():
            toks = tokenize(F.col(col))
            p = None
            for t in must:
                term = F.array_contains(toks, t)
                p = term if p is None else p & term
            if should:
                n_should = None
                for t in should:
                    c = F.array_contains(toks, t).cast("int")
                    n_should = c if n_should is None else n_should + c
                term = n_should >= F.lit(max(min_should, 1))
                p = term if p is None else p & term
            for t in must_not:
                term = ~F.array_contains(toks, t)
                p = term if p is None else p & term
            return p

        anchor_terms = must if must else should
        states = [self._fts_prune_state(col, t) for t in anchor_terms]
        hit_sets = [s[1] for s in states]
        if all(h is not None for h in hit_sets):
            if must:
                cand = set(hit_sets[0]).intersection(*hit_sets[1:])
            else:
                cand = set().union(*hit_sets)
            return self._hit_pool_read("fts_match_boolean", sorted(cand), pred(), ts)
        # scan path: prune only by what MUST terms exclude (a segment
        # missing any must term holds no match); should/must_not cannot
        # prune
        pruned = sorted(set().union(*(p for p, _ in states))) if must else []
        return self._pruned_read("fts_match_boolean", self.log(), pruned, ts, pred())

    def fts_match_where(
        self,
        col: str,
        word: str,
        preds: list[tuple],
        ts: int | None = None,
    ) -> DataFrame:
        """Full-text match AND a pushed scalar conjunction in one read —
        the reference couples the FTS query with the rest of the pushed
        filter over the same valid-rows bitmap
        (Filter/PushDownExecutor.h: fts/ann query info + RSOperator in
        one executor). ``preds`` uses the read_late_conj format:
        (col, lo, hi) ranges or (col, values) IN lists. Segment pruning
        is the UNION of what every index proves — FTS postings for the
        term, zone map for ranges, inverted index for INs — since a
        segment ANY conjunct excludes cannot hold a surviving row; a
        bounded FTS hit-list collapses the whole read to a pushed
        handle IN-list fetch."""
        from tiflash_spark.pipeline.fulltext import tokenize

        w = word.lower()
        norm = self._norm_conj(preds)
        full_pred = F.array_contains(tokenize(F.col(col)), w)
        sp = self._conj_expr(norm)
        if sp is not None:
            full_pred = full_pred & sp
        pruned, hit_handles = self._fts_prune_state(col, w)
        if hit_handles is not None:
            return self._hit_pool_read("fts_match_where", hit_handles, full_pred, ts, pruned)
        log = self.log()
        pruned = sorted(set(pruned) | set(self._conj_pruned_segs(log, norm)))
        return self._pruned_read("fts_match_where", log, pruned, ts, full_pred)

    FTS_OVERFETCH = 4

    def fts_search_scored(
        self,
        col: str,
        query: str,
        k: int = 10,
        ts: int | None = None,
        k1: float = 1.2,
        b: float = 0.75,
        preds: list[tuple] | None = None,
    ) -> DataFrame:
        """Top-k (handle, n_terms, bm25) by BM25 over the snapshot
        (reference searchScored). Candidates come from the postings
        sidecar (covered segments) plus exact evaluation of the delta
        tail and uncovered segments; every candidate is re-scored on its
        CURRENT visible value. N/avgdl/df come from the index's
        build-time stats — the reference's posture too (its index scores
        with per-index statistics), documented as approximate within an
        unrefreshed window."""
        from tiflash_spark.pipeline.fulltext import TOKEN_RE, tokenize

        import re as _re

        terms = [t for t in _re.split(TOKEN_RE, query.lower()) if t]
        if not terms:
            raise ValueError("empty query after tokenization")
        meta = self._index_meta("fulltext").get(col)
        seg_aware = meta and meta["segs"] and self._all_seg_ids()
        covered = {int(s) for s in meta["segs"]} if seg_aware else set()
        # corpus stats: combined per-segment build-time stats
        if covered:
            n_docs = sum(m[0] for m in meta["stats"].values())
            sum_dl = sum(m[1] for m in meta["stats"].values())
        else:
            n_docs = sum_dl = 0
        cand_truncated = False
        if covered:
            try:
                idx = self.spark.read.parquet(self._index_dir("fulltext", col))
                hits = idx.filter(
                    F.col("term").isin(terms) & F.col("_seg").isin(list(covered))
                )
                cap = self.FTS_OVERFETCH * max(k, 1) * 64
                # DETERMINISTIC cap: rank candidates by total matched-term
                # tf (a BM25 upper-bound proxy), handle tiebreak — an
                # unordered .limit() would drop a partition-order-dependent
                # subset on common terms, silently degrading recall
                ranked = (
                    hits.groupBy(HANDLE)
                    .agg(F.sum("tf").alias("_tf"))
                    .orderBy(F.col("_tf").desc(), F.col(HANDLE))
                    .limit(cap + 1)
                    .collect()
                )
                cand_truncated = len(ranked) > cap
                cand_handles = [r[HANDLE] for r in ranked[:cap]]
            except Exception:
                cand_handles, covered = [], set()
        if covered:
            # candidate pool: index hits + delta tail; uncovered segments
            # evaluated exactly (same legs as ann_topk). The pool reaches
            # the scan as a BROADCAST semi-join on the handle, never an
            # IN-list literal — at 100 TB the candidate set is thousands
            # of rows and a literal predicate bloats the plan.
            delta = self._layer("delta")
            delta_df = (
                delta.select(HANDLE).distinct() if delta is not None else None
            )
            cand_df = self.spark.createDataFrame(
                [(h,) for h in cand_handles],
                f"{HANDLE} {'string' if cand_handles and isinstance(cand_handles[0], str) else 'long'}",
            ) if cand_handles else None
            pool_df = None
            for leg_df in (cand_df, delta_df):
                if leg_df is None:
                    continue
                pool_df = (
                    leg_df if pool_df is None
                    else pool_df.unionByName(leg_df)
                )
            if pool_df is not None:
                pool_df = pool_df.distinct()
            # profile pool size = the ALREADY-COLLECTED index candidates;
            # the delta-tail leg stays lazy — an eager pool_df.count()
            # here cost one extra Spark job per query just to feed the
            # profile (round-7 bench: the fulltext trio's 1.2-1.3×)
            self._record_scan_profile(
                "fts_search_scored", [], inlist=len(cand_handles))
            # observable recall degradation: the deterministic cap dropped
            # index candidates (common terms > FTS_OVERFETCH*k*64 hits)
            self.last_scan_profile["candidates_truncated"] = cand_truncated
            legs = []
            if pool_df is not None:
                legs.append(self.read_handles_df(pool_df, ts=ts))
            uncovered = self._all_seg_ids() - covered
            if uncovered:
                ulog = self.log().filter(F.col("_seg").isin(list(uncovered)))
                if delta_df is not None:
                    ulog = ulog.join(
                        F.broadcast(delta_df), on=HANDLE, how="left_anti"
                    )
                legs.append(self._visible(ulog, ts))
            if not legs:
                return self.spark.createDataFrame(
                    [], f"{HANDLE} long, n_terms long, bm25 double"
                )
            vis_rows = legs[0]
            for leg in legs[1:]:
                vis_rows = vis_rows.unionByName(leg)
            vis_rows = vis_rows.dropDuplicates([HANDLE])
        else:
            # no usable index: exact snapshot scan (brute tier)
            vis_rows = self.read(ts)
            stats_src = vis_rows.filter(F.col(col).isNotNull()).agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(F.size(tokenize(F.col(col)))), F.lit(0)).alias("t"),
            ).collect()[0]
            n_docs, sum_dl = int(stats_src.n), int(stats_src.t)
        if preds:
            # filtered scored search: post-filter the candidate pool (the
            # ann_filtered posture — corpus-level df/N/avgdl, predicate
            # decides membership; candidates are already over-fetched)
            vis_rows = vis_rows.filter(self._conj_expr(self._norm_conj(preds)))
        return self._fts_score_rows(
            vis_rows, col, terms, k, n_docs, sum_dl, covered, k1, b
        )

    def _fts_score_rows(
        self,
        vis_rows: DataFrame,
        col: str,
        terms: list[str],
        k: int,
        n_docs: int,
        sum_dl: int,
        covered: set[int],
        k1: float,
        b: float,
    ) -> DataFrame:
        """BM25-score already-visible rows against ``terms`` with the
        given corpus stats (df from the covered index partitions, else
        exact over the rows)."""
        from tiflash_spark.pipeline.fulltext import tokenize

        if n_docs == 0:
            return self.spark.createDataFrame(
                [], f"{HANDLE} long, n_terms long, bm25 double"
            )
        avgdl = max(sum_dl / n_docs, 1e-9)
        # df per term: from the index when covered (plus nothing for the
        # exact legs — the reference's index-stats posture), else exact
        if covered:
            try:
                df_rows = (
                    self.spark.read.parquet(self._index_dir("fulltext", col))
                    .filter(
                        F.col("term").isin(terms)
                        & F.col("_seg").isin(list(covered))
                    )
                    .groupBy("term")
                    .agg(F.count_distinct(F.col(HANDLE)).alias("df"))
                    .collect()
                )
            except Exception:
                df_rows = []
            df_t = {r.term: int(r.df) for r in df_rows}
        else:
            toks = vis_rows.filter(F.col(col).isNotNull()).select(
                HANDLE, tokenize(F.col(col)).alias("_toks")
            )
            df_t = {
                r.term: int(r.df)
                for r in toks.select(F.explode("_toks").alias("term"), HANDLE)
                .filter(F.col("term").isin(terms))
                .groupBy("term")
                .agg(F.count_distinct(F.col(HANDLE)).alias("df"))
                .collect()
            }
        import math

        toks_cur = tokenize(F.col(col))
        dl_cur = F.size(toks_cur)
        contribs = []
        n_matched = F.lit(0)
        for t in terms:
            dft = df_t.get(t, 0)
            if dft == 0:
                continue
            idf = math.log(1.0 + (n_docs - dft + 0.5) / (dft + 0.5))
            tf = F.size(F.filter(toks_cur, lambda x: x == F.lit(t)))
            norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl_cur / F.lit(avgdl))
            contribs.append(
                F.when(tf > 0, F.lit(idf) * tf * F.lit(k1 + 1.0) / (tf + norm))
                .otherwise(F.lit(0.0))
            )
            n_matched = n_matched + (tf > 0).cast("long")
        if not contribs:
            return self.spark.createDataFrame(
                [], f"{HANDLE} long, n_terms long, bm25 double"
            )
        score = contribs[0]
        for cexpr in contribs[1:]:
            score = score + cexpr
        return (
            vis_rows.filter(F.col(col).isNotNull())
            .select(
                HANDLE,
                n_matched.alias("n_terms"),
                F.round(score, 4).alias("bm25"),
            )
            .filter(F.col("n_terms") > 0)
            .orderBy(F.col("bm25").desc(), F.col(HANDLE))
            .limit(k)
        )

    def hybrid_search(
        self,
        text_col: str,
        vec_col: str,
        query_text: str,
        query_vec: list[float],
        k: int = 10,
        rrf_k: int = 60,
        ts: int | None = None,
    ) -> DataFrame:
        """Store-level hybrid retrieval: BM25 over the full-text index ∪
        cosine ANN over the vector index, fused by reciprocal rank —
        rrf(d) = Σ 1/(rrf_k + rank_d). Both candidate lists are bounded
        (4k each) and snapshot-consistent through their own index paths,
        so the fusion join is broadcast-sized at any store size — the
        pipeline-level hybrid_search_rrf posture served by the storage
        indexes."""
        from pyspark.sql import Window

        bm = self.fts_search_scored(text_col, query_text, k=4 * k, ts=ts)
        bm_r = bm.withColumn(
            "bm25_rank",
            F.row_number().over(
                Window.orderBy(F.col("bm25").desc(), F.col(HANDLE))
            ),
        ).select(HANDLE, "bm25_rank")
        vec = self.ann_topk(vec_col, query_vec, k=4 * k, ts=ts)
        vec_r = vec.withColumn(
            "vec_rank",
            F.row_number().over(
                Window.orderBy(F.col("score").desc(), F.col(HANDLE))
            ),
        ).select(HANDLE, "vec_rank")
        fused = bm_r.join(vec_r, HANDLE, "full").select(
            HANDLE,
            "bm25_rank",
            "vec_rank",
            F.round(
                F.coalesce(1.0 / (F.lit(rrf_k) + F.col("bm25_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("vec_rank")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
        return fused.orderBy(F.col("rrf").desc(), F.col(HANDLE)).limit(k)

    def maintain(
        self,
        ts: int,
        delta_threshold: int = 10_000,
        max_rows: int | None = None,
        min_rows: int | None = None,
    ) -> dict:
        """One cycle of the reference's background storage thread
        (DeltaMergeStore background tasks: delta merge when a segment's
        delta outgrows its limit, then segment split/merge — Segment.cpp
        lifecycle): fold the delta when it exceeds ``delta_threshold``
        rows (incremental per-segment merge when a range manifest exists,
        full compact otherwise), then rebalance segment sizes when bounds
        are configured. Idempotent and safe to call on any cadence —
        exactly how a scheduled Spark job would run it. Returns what it
        did: {compacted, segments_rewritten, splits, merges}."""
        report = {"compacted": False, "segments_rewritten": 0,
                  "splits": 0, "merges": 0}
        n_delta = self.delta_rows()
        if n_delta > delta_threshold:
            if self._manifest():
                rewritten, _ = self.compact_segments_incremental(ts)
                report["segments_rewritten"] = rewritten
            else:
                self.compact(ts, num_segments=self._num_segments())
            report["compacted"] = True
        if max_rows and self._manifest():
            s, m = self.rebalance_segments(max_rows, min_rows)
            report["splits"], report["merges"] = s, m
        return report

    def rebalance_segments(
        self, max_rows: int, min_rows: int | None = None, max_ops: int = 16
    ) -> tuple[int, int]:
        """The background policy the reference runs over its segment tree:
        split any segment whose row count exceeds ``max_rows`` (largest
        first), then fold range-adjacent neighbors whose COMBINED count
        stays under ``min_rows``. Each pass costs one tiny per-segment
        count aggregate; ``max_ops`` bounds total rewrites per call (a
        real deployment spreads this over background cycles). Returns
        (splits, merges)."""
        splits = merges = 0
        while splits + merges < max_ops:
            counts = self._seg_counts()
            over = [s for s, n in counts.items() if n > max_rows]
            if not over:
                break
            target = max(over, key=lambda s: (counts[s], -s))
            try:
                self.split_segment(target)
                splits += 1
            except ValueError:
                break  # unsplittable (single-handle segment) — stop
        if min_rows:
            while splits + merges < max_ops:
                counts = self._seg_counts()
                man = self._manifest()
                ordered = sorted(
                    ((int(k), blo, bhi) for k, (blo, bhi) in man["bounds"].items()),
                    key=lambda t: t[1],
                )
                pair = None
                for (ls, _, lhi), (rs, rlo, _) in zip(ordered, ordered[1:]):
                    if lhi == rlo and counts.get(ls, 0) + counts.get(rs, 0) < min_rows:
                        pair = (ls, rs)
                        break
                if not pair:
                    break
                self.merge_segments(*pair)
                merges += 1
        return (splits, merges)

    # --- system tables (introspection) --------------------------------------

    def system_dt_segments(self) -> DataFrame:
        """The DT_SEGMENTS system-table analogue (reference
        dbms/src/Storages/System/StorageSystemDTSegments.cpp: one row per
        Segment with range, rows, and delta/stable breakdown). Columns:
        seg id (NULL for an unsegmented stable layer), manifest range
        bounds as strings (range manifests only), stable row count,
        on-disk stable bytes, delta rows assigned to the segment, and
        which sidecar indexes cover it (zone map / inverted / vector /
        full-text).

        Cost contract: one map-side-combined count over stable, at most
        one over the delta (skipped when the delta is empty), a driver
        walk of the segment dirs for bytes — maintenance-grade, same
        order as the rebalance policy's seg_counts probe."""
        man = self._manifest()
        stable = self._layer("stable")
        covers = self._index_covers()

        def coverage(seg):
            return self._coverage_columns(
                covers, "cols", lambda c: sum(seg in v for v in c.values())
            )

        ddl = (
            "seg int, range_lo string, range_hi string, stable_rows long,"
            " stable_bytes long, delta_rows long, "
            + ", ".join(d for d, _ in coverage(None))
        )
        if stable is None:
            # delta-only table (writes replicated, never compacted):
            # DT_SEGMENTS still lists the one segment holding the delta
            # (system-table/read_system_table.test reads `rows` = 3
            # right after the inserts)
            n0 = self.delta_rows()
            row = (None, None, None, 0, 0, n0, *[v for _, v in coverage(None)])
            return self.spark.createDataFrame([row] if n0 else [], ddl)
        segmented = "_seg" in stable.columns
        if segmented:
            rows = {
                int(r.s): int(r.n)
                for r in stable.groupBy(F.col("_seg").alias("s"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        else:
            rows = {None: stable.count()}
        delta = self._layer("delta") if self._delta_has_files() else None
        drows: dict = {}
        if delta is not None:
            if man:
                seg_of = self._seg_assign_expr(man)
                drows = {
                    int(r.s): int(r.n)
                    for r in delta.select(seg_of.alias("s"))
                    .groupBy("s")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
            else:
                drows = {None: delta.count()}

        def _dir_bytes(d: str) -> int:
            total = 0
            for root, _dirs, files in os.walk(d):
                for f in files:
                    if not f.startswith(("_", ".")):
                        total += os.path.getsize(os.path.join(root, f))
            return total

        out = []
        for s in sorted(rows, key=lambda k: (k is None, k)):
            if segmented and s is not None:
                seg_dir = os.path.join(self.stable_path(), f"_seg={s}")
                blo, bhi = (man["bounds"].get(str(s), (None, None)) if man
                            else (None, None))
            else:
                seg_dir = self.stable_path()
                blo = bhi = None
            out.append(
                (
                    s,
                    None if blo is None else str(blo),
                    None if bhi is None else str(bhi),
                    rows[s],
                    _dir_bytes(seg_dir),
                    drows.get(s, 0),
                    *[v for _, v in coverage(s)],
                )
            )
        return self.spark.createDataFrame(out, ddl)

    @staticmethod
    def _coverage_columns(covers: dict, suffix: str, count) -> list[tuple]:
        """The system tables' index columns as (DDL, value), one per kind
        in ``covers`` (``_index_covers``): ``count`` of the kind's
        {column: covered segments} map, as ``<kind>_<suffix> int`` for a
        posting kind and as a ``<kind> boolean`` flag for the zone map."""
        out = []
        for kind, c in covers.items():
            n = count(c)
            if _INDEX_KINDS[kind].prefix:
                out.append((f"{kind}_{suffix} int", n))
            else:
                out.append((f"{kind} boolean", bool(n)))
        return out

    def system_dt_tables(self) -> DataFrame:
        """The DT_TABLES system-table analogue (reference
        dbms/src/Storages/System/StorageSystemDTTables.cpp: one summary
        row per DeltaTree table). One row: path, schema version, layout
        kind, segment count, stable/delta row totals, pending range
        tombstones, and index counts."""
        man = self._manifest()
        n_seg = self._num_segments()
        stable = self._layer("stable")
        kind = (
            man["kind"] if man else ("hash" if n_seg else
                                     ("flat" if stable is not None else "empty"))
        )
        # DT_TABLES lists the zone-map flag after the index counts
        cov = sorted(
            self._coverage_columns(self._index_covers(), "indexes", len),
            key=lambda dv: dv[0].endswith("boolean"),
        )
        row = (
            self.path,
            self.schema_version(),
            kind,
            (man["n"] if man else (n_seg or (1 if stable is not None else 0))),
            int(stable.count()) if stable is not None else 0,
            self.delta_rows(),
            len(self._range_dels()),
            *[v for _, v in cov],
        )
        return self.spark.createDataFrame(
            [row],
            "path string, schema_version int, layout string, n_segments int,"
            " stable_rows long, delta_rows long, range_tombstones int, "
            + ", ".join(d for d, _ in cov),
        )
