"""Range-partitioned tables: one DeltaStore per partition behind the
single-table surface.

Reference: TiDB RANGE partitioning maps each partition to its OWN
TiFlash physical table (fullstack-test2/ddl/partitions/partition_basic
.test shows `get_partition_tables_tiflash_replica_count` returning one
replica per partition; docs/design/2022-05-17-new-implementation-of-mpp-
partition-table-support.md). Spark-first: a `PartitionedStore` holds an
ordered list of (name, upper-bound) ranges in a `_PARTITIONS` manifest
and a child DeltaStore per partition directory. Reads union the
children (partition-level pruning happens at the parquet scan through
each child's own file statistics; at cluster scale a bound-aware read
can skip whole children the way read_where skips segments); writes
route rows by the partition column; DDL fans out so every child stays
on the same schema version — exactly the reference's per-physical-table
schema sync.

Partition DDL surface (ddl/partitions/ suites):
  ADD PARTITION (append a higher bound), DROP PARTITION (data deleted
  with the physical table), TRUNCATE PARTITION, and EXCHANGE PARTITION
  WITH TABLE (directory swap with a standalone table after bounds
  validation — alter_exchange_partition.test).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiflash_spark.operators.mvcc import HANDLE
from tiflash_spark.sources.delta_store import DeltaStore, register_view

__all__ = ["PartitionedStore"]


class PartitionedStore:
    """Duck-types the DeltaStore surface run_sql drives (schema reads
    delegate to the first child — all children share one schema version;
    schema writes and maintenance fan out; data reads union; data writes
    route by the partition column)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)
        man = self._manifest()
        self.pcol: str = man["pcol"]
        self.mode: str = man.get("mode", "range")
        self.parts: list[dict] = man["parts"]
        self.stores: dict[str, DeltaStore] = {
            p["name"]: DeltaStore(spark, os.path.join(path, p["name"]))
            for p in self.parts
        }

    # --- manifest ------------------------------------------------------------

    def _man_path(self) -> str:
        return os.path.join(self.path, "_PARTITIONS")

    def _manifest(self) -> dict:
        with open(self._man_path()) as fh:
            return json.load(fh)

    def _write_manifest(self) -> None:
        tmp = self._man_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {"pcol": self.pcol, "parts": self.parts, "mode": self.mode},
                fh,
            )
        os.replace(tmp, self._man_path())

    @classmethod
    def create(
        cls, spark: SparkSession, path: str, pcol: str, parts: list[tuple],
        mode: str = "range",
    ) -> "PartitionedStore":
        """``parts``: ordered (name, upper) with upper=None for MAXVALUE;
        bounds must strictly increase (MySQL rejects otherwise). For
        mode='hash' the bounds are ignored: MySQL routes by value MOD
        n_partitions (names p0..p{n-1})."""
        if not parts:
            raise ValueError("PARTITION BY RANGE needs at least one partition")
        if mode == "range":
            uppers = [u for _, u in parts]
            for a, b in zip(uppers, uppers[1:]):
                if a is None or (b is not None and b <= a):
                    raise ValueError(
                        "partition bounds must strictly increase "
                        "(MAXVALUE only last)"
                    )
        os.makedirs(path, exist_ok=True)
        tmp = os.path.join(path, "_PARTITIONS.tmp")
        with open(tmp, "w") as fh:
            json.dump(
                {"pcol": pcol, "mode": mode,
                 "parts": [{"name": n, "upper": u} for n, u in parts]},
                fh,
            )
        os.replace(tmp, os.path.join(path, "_PARTITIONS"))
        return cls(spark, path)

    # --- schema surface (first child reads, fan-out writes) ------------------

    def _first(self) -> DeltaStore:
        return self.stores[self.parts[0]["name"]]

    def _fan(self, method: str, *a, **kw):
        out = None
        for p in self.parts:
            out = getattr(self.stores[p["name"]], method)(*a, **kw)
        return out

    def current_fields(self):
        return self._first().current_fields()

    def current_gen(self):
        return self._first().current_gen()

    def current_defaults(self):
        return self._first().current_defaults()

    def current_not_null(self):
        return self._first().current_not_null()

    def schema_version(self):
        return self._first().schema_version()

    def handle_alias(self):
        return self._first().handle_alias()

    def table_def(self):
        return self._first().table_def()

    def _handle_type(self):
        return self._first()._handle_type()

    def named_indexes(self):
        return self._first().named_indexes()

    def _write_schema_versions(self, vs):
        for p in self.parts:
            self.stores[p["name"]]._write_schema_versions(vs)

    def _schema_versions(self):
        return self._first()._schema_versions()

    def write_table_def(self, order, pk, pk_type="bigint", dt_prec=None,
                        time_cols=None, bin_cols=None, bit_cols=None):
        for p in self.parts:
            self.stores[p["name"]].write_table_def(
                order, pk, pk_type, dt_prec, time_cols, bin_cols, bit_cols
            )

    def update_table_def(self, **patch):
        """Merge-style table-def patch fanned to every partition child
        (mirrors DeltaStore.update_table_def)."""
        for p in self.parts:
            self.stores[p["name"]].update_table_def(**patch)

    def add_column(self, *a, **kw):
        return self._fan("add_column", *a, **kw)

    def drop_column(self, *a, **kw):
        return self._fan("drop_column", *a, **kw)

    def modify_column(self, *a, **kw):
        return self._fan("modify_column", *a, **kw)

    def rename_column(self, *a, **kw):
        return self._fan("rename_column", *a, **kw)

    def set_column_nullable(self, *a, **kw):
        return self._fan("set_column_nullable", *a, **kw)

    def set_column_default(self, *a, **kw):
        return self._fan("set_column_default", *a, **kw)

    def add_generated_column(self, *a, **kw):
        return self._fan("add_generated_column", *a, **kw)

    def build_fulltext_index(self, col):
        return sum(
            self.stores[p["name"]].build_fulltext_index(col) for p in self.parts
        )

    def build_inverted_index(self, cols):
        return sum(
            self.stores[p["name"]].build_inverted_index(cols) for p in self.parts
        )

    def build_vector_index(self, col, *a, **kw):
        return sum(
            self.stores[p["name"]].build_vector_index(col, *a, **kw)
            for p in self.parts
        )

    def register_index_name(self, name, kind, col):
        for p in self.parts:
            self.stores[p["name"]].register_index_name(name, kind, col)

    def drop_index_by_name(self, name):
        out = None
        for p in self.parts:
            out = self.stores[p["name"]].drop_index_by_name(name)
        return out

    # --- data surface --------------------------------------------------------

    def _stored_pcol(self) -> str:
        return HANDLE if self.pcol == self.handle_alias() else self.pcol

    def _bounds(self) -> list[tuple]:
        los = [None] + [p["upper"] for p in self.parts[:-1]]
        return [
            (p["name"], lo, p["upper"]) for p, lo in zip(self.parts, los)
        ]

    def write_batch(self, df: DataFrame, version: int, delete: bool = False) -> None:
        """Route rows to partitions by the partition column's value
        ([lo, upper) ranges); a value no partition covers is MySQL error
        1526, never silent loss. NULL sorts below every value in MySQL
        RANGE partitioning, so NULL keys route to the lowest partition.
        """
        c = F.col(self._stored_pcol())
        # One routing pass for any partition count: stamp each row with
        # its child index, checkpoint once, learn the set of NON-EMPTY
        # children from a single distinct job, then one write job per
        # non-empty child — not the former limit(1).count() + write
        # pair per child (2·n jobs at n partitions).
        if self.mode == "hash":
            # MySQL HASH partitioning: value MOD n (NULL hashes to p0;
            # ddl/partitions/alter_partition_by.test queries hash
            # children by name)
            bucket = F.coalesce(
                F.pmod(c.cast("bigint"), F.lit(len(self.parts))), F.lit(0)
            )
        else:
            # RANGE: first [lo, upper) match; NULL sorts below every
            # value and routes to the lowest partition; no match stays
            # NULL → MySQL error 1526, never silent loss
            bucket = F.when(c.isNull(), F.lit(0))
            for i, (_, lo, hi) in enumerate(self._bounds()):
                m = F.lit(True)
                if lo is not None:
                    m = m & (c >= F.lit(lo))
                if hi is not None:
                    m = m & (c < F.lit(hi))
                bucket = bucket.when(m, F.lit(i))
        # localCheckpoint, not persist: the first child's write refreshes
        # cached file listings, which DROPS persisted blocks — a lazy
        # re-evaluation would then re-read the view INCLUDING the rows
        # just written (self-INSERT ... SELECT duplicates rows;
        # ddl/partitions/remove_partitioning.test)
        df = df.withColumn("_tfs_pbucket", bucket).localCheckpoint(eager=True)
        present = {
            r[0] for r in df.select("_tfs_pbucket").distinct().collect()
        }
        if None in present:
            raise ValueError(
                f"table has no partition for some {self.pcol!r} values "
                "(MySQL error 1526)"
            )
        for i, p in enumerate(self.parts):
            if i in present:
                self.stores[p["name"]].write_batch(
                    df.filter(F.col("_tfs_pbucket") == i).drop("_tfs_pbucket"),
                    version, delete=delete,
                )

    def read(self, ts: int | None = None, mode: str = "normal") -> DataFrame:
        out = None
        for p in self.parts:
            d = self.stores[p["name"]].read(ts, mode=mode)
            out = d if out is None else out.unionByName(d)
        return out

    def log(self) -> DataFrame:
        out = None
        for p in self.parts:
            d = self.stores[p["name"]].log()
            out = d if out is None else out.unionByName(d, allowMissingColumns=True)
        return out

    def newest_version(self) -> int:
        return max(self.stores[p["name"]].newest_version() for p in self.parts)

    def max_handle(self):
        hs = [self.stores[p["name"]].max_handle() for p in self.parts]
        hs = [h for h in hs if h is not None]
        return max(hs) if hs else None

    as_view = register_view

    def truncate_table(self) -> None:
        for p in self.parts:
            self.stores[p["name"]].truncate_table()

    def compact(self, ts: int, num_segments: int | None = None,
                keep_deleted: bool = False) -> int:
        kept = 0
        for p in self.parts:
            s = self.stores[p["name"]]
            try:
                s.log()
            except ValueError:
                continue  # empty child
            if s.newest_version() > 0:
                kept += s.compact(min(ts, s.newest_version()), num_segments,
                                  keep_deleted=keep_deleted)
        return kept

    def compact_segments_incremental(self, ts: int):
        rew = tot = 0
        for p in self.parts:
            s = self.stores[p["name"]]
            if s.newest_version() > 0:
                r, t = s.compact_segments_incremental(ts=min(ts, s.newest_version()))
                rew += r
                tot += t
        return rew, tot

    def system_dt_segments(self) -> DataFrame:
        out = None
        for p in self.parts:
            d = self.stores[p["name"]].system_dt_segments().withColumn(
                "partition_name", F.lit(p["name"])
            )
            out = d if out is None else out.unionByName(d)
        return out

    def system_dt_tables(self) -> DataFrame:
        out = None
        for p in self.parts:
            d = self.stores[p["name"]].system_dt_tables().withColumn(
                "partition_name", F.lit(p["name"])
            )
            out = d if out is None else out.unionByName(d)
        return out

    # --- partition DDL -------------------------------------------------------

    def add_partition(self, name: str, upper) -> None:
        """ADD PARTITION: append a strictly-higher bound (the reference
        creates a new physical table and syncs the current schema)."""
        if any(p["name"] == name for p in self.parts):
            raise ValueError(f"partition {name!r} already exists")
        last = self.parts[-1]["upper"]
        if last is None:
            raise ValueError("cannot ADD PARTITION after MAXVALUE")
        if upper is not None and upper <= last:
            raise ValueError(
                f"ADD PARTITION bound {upper} must exceed the last bound {last}"
            )
        store = DeltaStore(self.spark, os.path.join(self.path, name))
        vs = self._first()._schema_versions()
        if vs:
            store._write_schema_versions(vs)
        td = self.table_def()
        if td:
            # copy the FULL def (incl. bin_cols/bit_cols width metadata)
            # so the new partition renders BINARY/BIT like its siblings
            store.update_table_def(**{
                k: v for k, v in td.items()
                if k in ("order", "pk", "pk_type", "dt_prec", "time_cols",
                         "bin_cols", "bit_cols")
            })
        self.parts.append({"name": name, "upper": upper})
        self.stores[name] = store
        self._write_manifest()

    def drop_partition(self, name: str) -> None:
        """DROP PARTITION: the physical table and its data are deleted
        (partition_basic.test: rows of p0 vanish from the table)."""
        import shutil

        if len(self.parts) == 1:
            raise ValueError("cannot drop the only partition")
        if not any(p["name"] == name for p in self.parts):
            raise ValueError(f"no partition {name!r}")
        self.parts = [p for p in self.parts if p["name"] != name]
        self._write_manifest()
        store = self.stores.pop(name)
        shutil.rmtree(store.path, ignore_errors=True)
        # a later ADD of a same-named partition reuses this path; cached
        # file listings must not survive the rmtree (DROP TABLE parity)
        try:
            self.spark.catalog.refreshByPath(store.path)
        except Exception:
            pass

    def truncate_partition(self, name: str) -> None:
        if name not in self.stores:
            raise ValueError(f"no partition {name!r}")
        self.stores[name].truncate_table()

    def exchange_partition(self, name: str, other: DeltaStore) -> DeltaStore:
        """EXCHANGE PARTITION p WITH TABLE t (alter_exchange_partition
        .test): swap the partition's physical table with a standalone
        table of the same schema. Validates the incoming rows fit the
        partition's range (TiDB validates unless WITHOUT VALIDATION),
        then swaps the two directories; returns the standalone table's
        new store (holding the old partition data)."""
        if name not in self.stores:
            raise ValueError(f"no partition {name!r}")
        mine = {tuple(f) for f in (self.current_fields() or [])}
        theirs = {tuple(f) for f in (other.current_fields() or [])}
        if mine != theirs:
            raise ValueError(
                "EXCHANGE PARTITION: table schemas differ "
                f"({sorted(mine ^ theirs)})"
            )
        lo = hi = None
        for n, lo_, hi_ in self._bounds():
            if n == name:
                lo, hi = lo_, hi_
        c = F.col(self._stored_pcol() if other.handle_alias() == self.handle_alias()
                  else self.pcol)
        try:
            rows = other.read()
        except ValueError:
            rows = None
        if rows is not None:
            bad = F.lit(False)
            if lo is not None:
                bad = bad | (c < F.lit(lo))
            if hi is not None:
                bad = bad | (c >= F.lit(hi))
            if rows.filter(bad).limit(1).count():
                raise ValueError(
                    f"EXCHANGE PARTITION: rows outside {name!r}'s range"
                )
        part_store = self.stores[name]
        ppath, opath = part_store.path, other.path
        tmp = ppath + "._xchg"
        os.rename(ppath, tmp)
        os.rename(opath, ppath)
        os.rename(tmp, opath)
        # both stores usually share layer names (delta_v1/stable_v1), so
        # post-swap reads must not serve the pre-swap file listings
        for root in (ppath, opath):
            try:
                self.spark.catalog.refreshByPath(root)
            except Exception:
                pass
        self.stores[name] = DeltaStore(self.spark, ppath)
        other_new = DeltaStore(self.spark, opath)
        for s in (self.stores[name], other_new):
            try:
                s._refresh()
            except Exception:
                pass
        return other_new
