"""Derived values, built once per version of what they derive from.

TiFlash builds each derived structure once per version of its data: the
schema cache, and the vector, inverted and full-text indexes written at
write or compaction time. The engine follows the same rule in one place:

- A **stamp** names one version of a source: ``(abspath, st_mtime_ns,
  st_size)`` of a parquet file or directory (:func:`source_stamp`), the
  ``(relpath, mtime_ns, size)`` of every data file under a directory
  (:func:`tree_stamp`, for partitioned layers whose own mtime does not
  move when a partition dir gains a file), the stamps of every file a
  frame scans (:func:`frame_stamp`), or the JVM epoch for values that
  live in the JVM (:func:`jvm_epoch`).
- The **memo** (:func:`memo`) holds one live value per key and rebuilds it
  when the key's stamp changes, which also drops the superseded value. A
  value whose stamp cannot be taken (missing or non-local source, no
  gateway yet) is built and never stored.
- A **sidecar** (:func:`sidecar`, :func:`bucketed`) is a table at rest in
  the session's warehouse, derived from one source table of a scale
  factor (its name carries :func:`sf_tag`). Its ``_SOURCE_STAMP`` file
  holds the source's ``<mtime_ns>-<size>`` (``absent`` for a missing
  source); a mismatch rebuilds it. Without a local warehouse the caller
  builds inline.

Why this is safe: every memoized value is derived metadata that plans are
built from (physical schemas of parquet files and of DeltaStore layers,
plan literals, broadcast-sizing counts, band parameters, unresolved
Column trees), never query rows, so a query still computes its result
from its scans. Sidecars hold rows, but only rows rebuilt from the
stamped source. JVM-bound values (Column trees) carry the JVM epoch,
which moves whenever ``SparkContext._gateway`` is a different object, so
a new gateway never sees a Column of an old JVM.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

# key -> (stamp, value), stored as one tuple so that two threads building
# the same key never leave a stamp paired with the other's value
_MEMO: dict = {}

_gateway = None
_epoch = 0


def memo(key: tuple, stamp, build):
    """The value of ``build()`` for ``key`` as of ``stamp``: reused while the
    stamp holds, rebuilt (replacing the old value) when it moves, and
    never stored when ``stamp`` is None."""
    if stamp is None:
        return build()
    hit = _MEMO.get(key)
    if hit is None or hit[0] != stamp:
        hit = _MEMO[key] = (stamp, build())
    return hit[1]


def source_stamp(path: str) -> tuple | None:
    """``(abspath, mtime_ns, size)`` of a file or directory, None if absent.
    A directory's mtime moves when its members are replaced."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (os.path.abspath(path), st.st_mtime_ns, st.st_size)


def _listed(name: str) -> bool:
    # Spark's file-listing rule: "_" and "." names are metadata, except
    # "_k=v" partition directories
    return not (name.startswith(".") or (name.startswith("_") and "=" not in name))


def tree_stamp(root: str) -> tuple | None:
    """Sorted ``(relpath, mtime_ns, size)`` of every data file Spark would
    list under ``root`` (partition dirs included, metadata names skipped);
    None when ``root`` is not a directory or changes under the walk."""
    if not os.path.isdir(root):
        return None
    stamps = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if _listed(d)]
        rel = os.path.relpath(dirpath, root)
        for f in files:
            if not _listed(f):
                continue
            try:
                st = os.stat(os.path.join(dirpath, f))
            except OSError:
                return None
            stamps.append((os.path.normpath(os.path.join(rel, f)), st.st_mtime_ns, st.st_size))
    return tuple(sorted(stamps))


def frame_stamp(df: DataFrame) -> tuple | None:
    """Stamps of every file the frame scans, None when one cannot be taken.
    Walks the analyzed plan: the optimized plan that ``inputFiles()`` reads
    hides the files under a persisted frame. Leaves that carry their rows
    in the plan (local data, ranges) add nothing; any other source has no
    stamp."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    stamps = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind in ("LocalRelation", "Range", "OneRowRelation"):
            continue
        rel = leaf.relation() if kind == "LogicalRelation" else None
        if rel is None or rel.getClass().getSimpleName() != "HadoopFsRelation":
            return None
        for uri in rel.inputFiles():
            u = urlparse(uri)
            st = source_stamp(unquote(u.path)) if u.scheme in ("", "file") else None
            if st is None:
                return None
            stamps.append(st)
    return tuple(sorted(stamps))


def jvm_epoch() -> int | None:
    """A counter that moves whenever ``SparkContext._gateway`` is a different
    object; None while there is no gateway."""
    global _gateway, _epoch
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return None
    if gw is not _gateway:
        _gateway, _epoch = gw, _epoch + 1
    return _epoch


def prepared(key: tuple, build):
    """Constant Column tree(s) for ``key``, built once per JVM. Unresolved
    Catalyst expressions are immutable, so one instance can appear in any
    number of plans."""
    return memo(("prepared",) + key, jvm_epoch(), build)


def literal_memo(source_path: str, tag: str, build):
    """A plan literal (``tag``) fetched from ``source_path``, refetched when
    that source is rewritten."""
    return memo(
        ("literal", os.path.abspath(source_path), tag), source_stamp(source_path), build
    )


def read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with the physical schema memoized per file
    version, so repeated query builds skip footer inference."""
    schema = memo(
        ("parquet_schema", os.path.abspath(path)),
        source_stamp(path),
        lambda: spark.read.parquet(path).schema,
    )
    return spark.read.schema(schema).parquet(path)


# --- sidecars -----------------------------------------------------------------


def sf_tag(sf_dir: str) -> str:
    return sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_").replace("-", "_")


def warehouse_path(spark: SparkSession) -> str | None:
    raw = spark.conf.get("spark.sql.warehouse.dir", "")
    u = urlparse(raw)
    if u.scheme in ("", "file"):
        return unquote(u.path) or None
    return None


def _table_stamp(sf_dir: str, table: str) -> str:
    st = source_stamp(os.path.join(sf_dir, f"{table}.parquet"))
    return "absent" if st is None else f"{st[1]}-{st[2]}"


def _fresh(loc: str, stamp: str) -> bool:
    # underscore-prefixed, so Spark's parquet reader skips it
    try:
        with open(os.path.join(loc, "_SOURCE_STAMP")) as fh:
            return fh.read().strip() == stamp
    except OSError:
        return False


def _write_stamp(loc: str, stamp: str) -> None:
    with open(os.path.join(loc, "_SOURCE_STAMP"), "w") as fh:
        fh.write(stamp)


def sidecar(
    spark: SparkSession, sf_dir: str, table: str, write, *names: str
) -> tuple[DataFrame, ...] | None:
    """Parquet sidecars ``names`` in the warehouse, derived from ``table``
    of ``sf_dir``: when any is stale, ``write(*locs)`` rebuilds them all.
    Returns their frames, or None without a local warehouse (the caller
    then builds inline)."""
    wh = warehouse_path(spark)
    if not wh:
        return None
    locs = [os.path.join(wh, n) for n in names]
    stamp = _table_stamp(sf_dir, table)
    if not all(_fresh(loc, stamp) for loc in locs):
        write(*locs)
        for loc in locs:
            _write_stamp(loc, stamp)
            spark.catalog.refreshByPath(loc)
    return tuple(read_parquet_memo(spark, loc) for loc in locs)


def bucketed(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    name: str,
    build,
    bucket_cols: tuple[str, ...],
    buckets: int,
) -> DataFrame:
    """The bucketed catalog table ``name`` derived from ``table`` of
    ``sf_dir``, built at most once per source version:
    1) in this session's catalog and fresh → use it;
    2) fresh files from an earlier session → re-register the external
       table with the same bucket spec (bucket ids live in file names,
       so the DDL round-trip keeps co-location);
    3) otherwise build, write bucketed, register, stamp."""
    wh = warehouse_path(spark)
    loc = os.path.join(wh, name.lower()) if wh else None
    stamp = _table_stamp(sf_dir, table)
    fresh = loc is None or _fresh(loc, stamp)
    if spark.catalog.tableExists(name):
        if fresh:
            return spark.table(name)
        # stale: drop the external catalog entry; the overwrite replaces
        # the files
        spark.sql(f"DROP TABLE `{name}`")
    if loc and fresh and any(f.endswith(".parquet") for f in os.listdir(loc)):
        schema = spark.read.parquet(loc).schema
        ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
        clause = ", ".join(bucket_cols)
        spark.sql(
            f"CREATE TABLE {name} ({ddl}) USING PARQUET "
            f"CLUSTERED BY ({clause}) SORTED BY ({clause}) "
            f"INTO {buckets} BUCKETS LOCATION '{loc}'"
        )
        return spark.table(name)
    w = build().write.mode("overwrite").bucketBy(buckets, *bucket_cols).sortBy(*bucket_cols)
    if loc:
        w = w.option("path", loc)
    w.saveAsTable(name)
    if loc:
        _write_stamp(loc, stamp)
    return spark.table(name)
