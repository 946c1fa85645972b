"""Range-partitioned tables over per-partition DeltaStores (reference
fullstack-test2/ddl/partitions/: partition_basic.test,
alter_exchange_partition.test; TiDB maps each RANGE partition to its own
TiFlash physical table)."""

from __future__ import annotations

import pytest

# long replay/property/parity sweep: excluded from the default run
# (pytest.ini addopts); scripts/full_suite.sh runs everything
pytestmark = pytest.mark.slow

import pytest

from tiflash_spark.sources.admin_sql import run_sql
from tiflash_spark.sources.partitioned import PartitionedStore


def test_partition_basic_flow(spark, tmp_path):
    """partition_basic.test: CREATE with 2 range partitions -> INSERT
    rows landing in different partitions -> ADD PARTITION -> DROP
    PARTITION deletes its data -> TRUNCATE PARTITION empties one."""
    stores = {}
    run_sql(
        spark,
        "CREATE TABLE t1 (id INT NOT NULL, name VARCHAR(30), "
        "PRIMARY KEY CLUSTERED (id)) PARTITION BY RANGE (id) "
        "(PARTITION p0 VALUES LESS THAN (50), PARTITION p1 VALUES LESS THAN (100))",
        stores, base_path=str(tmp_path),
    )
    store = stores["t1"]
    assert isinstance(store, PartitionedStore)
    run_sql(spark, "INSERT INTO t1 VALUES (1, 'abc'), (60, 'cba')", stores)
    got = {r.id: r.name for r in run_sql(spark, "SELECT * FROM t1").collect()}
    assert got == {1: "abc", 60: "cba"}
    # the rows physically landed in their own partitions
    assert store.stores["p0"].read().count() == 1
    assert store.stores["p1"].read().count() == 1
    # out-of-range value = MySQL error 1526, never silent loss
    with pytest.raises(ValueError, match="no partition"):
        run_sql(spark, "INSERT INTO t1 VALUES (150, 'aaa')", stores)
    run_sql(
        spark,
        "ALTER TABLE t1 ADD PARTITION (PARTITION p2 VALUES LESS THAN (200))",
        stores,
    )
    run_sql(spark, "INSERT INTO t1 VALUES (150, 'aaa')", stores)
    got = {r.id: r.name for r in run_sql(spark, "SELECT * FROM t1").collect()}
    assert got == {1: "abc", 60: "cba", 150: "aaa"}
    # DROP PARTITION deletes the partition's data with it
    run_sql(spark, "ALTER TABLE t1 DROP PARTITION p0", stores)
    got = {r.id: r.name for r in run_sql(spark, "SELECT * FROM t1").collect()}
    assert got == {60: "cba", 150: "aaa"}
    run_sql(spark, "ALTER TABLE t1 TRUNCATE PARTITION p1", stores)
    got = {r.id: r.name for r in run_sql(spark, "SELECT * FROM t1").collect()}
    assert got == {150: "aaa"}


def test_partition_dml_ddl_and_indexes_fan_out(spark, tmp_path):
    """UPDATE/DELETE span partitions; column DDL keeps every physical
    table on one schema version; index DDL covers each partition
    (vector-index-on-partition.test posture); information_schema shows
    per-partition rows."""
    stores = {}
    run_sql(
        spark,
        "CREATE TABLE pt (id BIGINT NOT NULL, v BIGINT, "
        "PRIMARY KEY CLUSTERED (id)) PARTITION BY RANGE (id) "
        "(PARTITION p0 VALUES LESS THAN (10), "
        "PARTITION p1 VALUES LESS THAN (MAXVALUE))",
        stores, base_path=str(tmp_path),
    )
    store = stores["pt"]
    run_sql(spark, "INSERT INTO pt VALUES (1, 5), (5, 6), (15, 7), (25, 8)", stores)
    r = run_sql(spark, "UPDATE pt SET v = v + 100 WHERE v >= 6", stores).collect()[0]
    assert r.rows_affected == 3
    r = run_sql(spark, "DELETE FROM pt WHERE id = 25", stores).collect()[0]
    assert r.rows_affected == 1
    got = {x.id: x.v for x in run_sql(spark, "SELECT * FROM pt").collect()}
    assert got == {1: 5, 5: 106, 15: 107}
    # column DDL fans out: both physical tables advance together
    run_sql(spark, "ALTER TABLE pt ADD COLUMN tag VARCHAR(10) DEFAULT 'x'", stores)
    assert store.stores["p0"].schema_version() == store.stores["p1"].schema_version()
    assert {x.tag for x in run_sql(spark, "SELECT * FROM pt").collect()} == {"x"}
    # historical stale read still works per partition
    got1 = {x.id: x.v for x in run_sql(
        spark, "SELECT id, v FROM pt AS OF TIMESTAMP 1", stores).collect()}
    assert got1 == {1: 5, 5: 6, 15: 7, 25: 8}
    # index DDL covers every partition; DROP INDEX removes it everywhere
    for s in store.stores.values():
        s.compact(ts=s.newest_version(), num_segments=1)
    run_sql(spark, "ALTER TABLE pt ADD COLUMNAR INDEX idx_v (v) USING INVERTED",
            stores)
    assert all("v" in s._index_meta("inverted") for s in store.stores.values())
    run_sql(spark, "ALTER TABLE pt DROP INDEX idx_v", stores)
    assert all(s._index_meta("inverted") == {} for s in store.stores.values())
    # information_schema exposes per-partition physical tables
    rows = run_sql(
        spark,
        "SELECT tidb_table, partition_name, stable_rows FROM "
        "information_schema.tiflash_tables ORDER BY partition_name",
        stores,
    ).collect()
    assert [(r2.tidb_table, r2.partition_name) for r2 in rows] == [
        ("pt", "p0"), ("pt", "p1"),
    ]


def test_exchange_partition(spark, tmp_path):
    """alter_exchange_partition.test: swap a partition's physical table
    with a standalone table; rows must fit the partition's range."""
    stores = {}
    run_sql(
        spark,
        "CREATE TABLE e (id INT NOT NULL, fname VARCHAR(30), "
        "PRIMARY KEY CLUSTERED (id)) PARTITION BY RANGE (id) "
        "(PARTITION p0 VALUES LESS THAN (50), PARTITION p1 VALUES LESS THAN (150))",
        stores, base_path=str(tmp_path),
    )
    run_sql(
        spark,
        "CREATE TABLE e2 (id INT NOT NULL, fname VARCHAR(30), "
        "PRIMARY KEY CLUSTERED (id))",
        stores, base_path=str(tmp_path),
    )
    run_sql(spark, "INSERT INTO e VALUES (1, 'a'), (108, 'b')", stores)
    run_sql(spark, "INSERT INTO e2 VALUES (2, 'c')", stores)
    run_sql(spark, "ALTER TABLE e EXCHANGE PARTITION p0 WITH TABLE e2", stores)
    got = {r.id: r.fname for r in run_sql(spark, "SELECT * FROM e").collect()}
    assert got == {2: "c", 108: "b"}  # e2's row now lives in p0
    got2 = {r.id: r.fname for r in run_sql(spark, "SELECT * FROM e2").collect()}
    assert got2 == {1: "a"}  # the old partition row moved out
    # rows outside the partition's range are rejected
    run_sql(spark, "INSERT INTO e2 VALUES (999, 'z')", stores)
    with pytest.raises(ValueError, match="outside"):
        run_sql(spark, "ALTER TABLE e EXCHANGE PARTITION p0 WITH TABLE e2", stores)
    # post-exchange DML keeps working on both
    run_sql(spark, "INSERT INTO e VALUES (3, 'd')", stores)
    assert run_sql(spark, "SELECT * FROM e").count() == 3


def test_show_create_partitioned_table(spark, tmp_path):
    stores = {}
    run_sql(
        spark,
        "CREATE TABLE sc (id INT NOT NULL, v INT, PRIMARY KEY CLUSTERED (id)) "
        "PARTITION BY RANGE (id) (PARTITION p0 VALUES LESS THAN (50), "
        "PARTITION p1 VALUES LESS THAN (MAXVALUE))",
        stores, base_path=str(tmp_path),
    )
    ddl = run_sql(spark, "SHOW CREATE TABLE sc", stores).collect()[0].create_table
    assert "PARTITION BY RANGE (`id`)" in ddl
    assert "PARTITION `p0` VALUES LESS THAN (50)" in ddl
    assert "PARTITION `p1` VALUES LESS THAN (MAXVALUE)" in ddl


def test_update_partition_column_moves_rows(spark, tmp_path):
    """MySQL row movement: an UPDATE that changes the partition column
    relocates the row to its new physical table — the old partition must
    not keep a ghost copy."""
    stores = {}
    run_sql(
        spark,
        "CREATE TABLE mv (id BIGINT NOT NULL, grp BIGINT, v VARCHAR(10), "
        "PRIMARY KEY CLUSTERED (id)) PARTITION BY RANGE (grp) "
        "(PARTITION p0 VALUES LESS THAN (10), "
        "PARTITION p1 VALUES LESS THAN (MAXVALUE))",
        stores, base_path=str(tmp_path),
    )
    store = stores["mv"]
    run_sql(spark, "INSERT INTO mv VALUES (1, 5, 'a'), (2, 15, 'b')", stores)
    # move row 1 from p0 to p1; row 2 updates in place (stays p1)
    r = run_sql(spark, "UPDATE mv SET grp = grp + 10, v = concat(v, '!')",
                stores).collect()[0]
    assert r.rows_affected == 2
    got = {x.id: (x.grp, x.v) for x in run_sql(spark, "SELECT * FROM mv").collect()}
    assert got == {1: (15, "a!"), 2: (25, "b!")}
    # physical placement: p0 holds nothing visible, p1 holds both
    assert store.stores["p0"].read().count() == 0
    assert store.stores["p1"].read().count() == 2
    # in-place update (same partition) also survives the two-version path
    run_sql(spark, "UPDATE mv SET grp = grp WHERE id = 2", stores)
    assert run_sql(spark, "SELECT * FROM mv").count() == 2


def test_null_partition_key_routes_to_lowest(spark, tmp_path):
    """MySQL RANGE partitioning orders NULL below every value: a NULL
    partition key is legal (nullable column) and lands in the first
    partition, never error 1526."""
    stores = {}
    run_sql(
        spark,
        "CREATE TABLE np (id BIGINT NOT NULL, grp BIGINT, "
        "PRIMARY KEY CLUSTERED (id)) PARTITION BY RANGE (grp) "
        "(PARTITION p0 VALUES LESS THAN (10), "
        "PARTITION p1 VALUES LESS THAN (MAXVALUE))",
        stores, base_path=str(tmp_path),
    )
    run_sql(spark, "INSERT INTO np VALUES (1, NULL), (2, 50)", stores)
    store = stores["np"]
    assert store.stores["p0"].read().count() == 1
    assert store.stores["p1"].read().count() == 1
    got = {r.id: r.grp for r in run_sql(spark, "SELECT * FROM np").collect()}
    assert got == {1: None, 2: 50}
    # the NULL row deletes cleanly (tombstone routes to p0 too)
    run_sql(spark, "DELETE FROM np WHERE grp IS NULL", stores)
    assert run_sql(spark, "SELECT * FROM np").count() == 1


def test_partition_move_atomic_at_one_version(spark, tmp_path):
    """A partition-moving UPDATE commits delete+insert at ONE version
    (reference: a single commit-ts): no AS OF TIMESTAMP snapshot ever
    sees the row deleted but not yet re-inserted."""
    stores = {}
    run_sql(
        spark,
        "CREATE TABLE am (id BIGINT NOT NULL, grp BIGINT, "
        "PRIMARY KEY CLUSTERED (id)) PARTITION BY RANGE (grp) "
        "(PARTITION p0 VALUES LESS THAN (10), "
        "PARTITION p1 VALUES LESS THAN (MAXVALUE))",
        stores, base_path=str(tmp_path),
    )
    run_sql(spark, "INSERT INTO am VALUES (1, 5)", stores)
    run_sql(spark, "UPDATE am SET grp = 50", stores)  # p0 -> p1
    store = stores["am"]
    # at EVERY version the table holds exactly one visible row
    for ts in range(1, store.newest_version() + 1):
        assert store.read(ts).count() == 1, f"row vanished at version {ts}"
    assert {r.grp for r in store.read().collect()} == {50}
