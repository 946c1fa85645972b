"""One read front end for DeltaStore, PartitionedStore and ReadNodeStore:
each store's `as_view` shows what that store's own `read` returns, a read
node runs the checkpoint store's read step (MVCC pick, range tombstones,
ADD-DEFAULT fill) over checkpoint ∪ write-node tail, and an ingested
stable file keeps its checksum file."""

from __future__ import annotations

import os
from decimal import Decimal

from tiflash_spark.operators.mvcc import HANDLE
from tiflash_spark.sources import remote_store as rs
from tiflash_spark.sources.admin_sql import run_sql
from tiflash_spark.sources.delta_store import DeltaStore
from tiflash_spark.sources.remote_store import ReadNodeStore


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
