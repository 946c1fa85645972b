"""SQL DML over DeltaStore through run_sql — INSERT/REPLACE/UPDATE/
DELETE as versioned MVCC writes (reference: every fullstack test drives
data through mysql INSERT/UPDATE/DELETE and reads it back from TiFlash
after Raft replication, tests/fullstack-test/mpp/*.test; here the
statement IS the replicated write, commit version = newest + 1)."""

from __future__ import annotations

import pytest

# long replay/property/parity sweep: excluded from the default run
# (pytest.ini addopts); scripts/full_suite.sh runs everything
pytestmark = pytest.mark.slow

import pytest

from tiflash_spark.sources.admin_sql import run_sql
from tiflash_spark.sources.delta_store import HANDLE, DeltaStore


def _fresh(spark, tmp_path, name="t"):
    store = DeltaStore(spark, str(tmp_path / name))
    store.write_batch(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], f"{HANDLE} long, s string, n long"
        ),
        version=1,
    )
    store.as_view(name)
    return store


def test_insert_explicit_handle_and_select(spark, tmp_path):
    store = _fresh(spark, tmp_path)
    r = run_sql(
        spark,
        f"INSERT INTO t ({HANDLE}, s, n) VALUES (3, 'c', 30), (4, NULL, 40)",
        {"t": store},
    ).collect()[0]
    assert (r.op, r.rows_affected, r.commit_version) == ("insert", 2, 2)
    got = {r2[HANDLE]: (r2.s, r2.n) for r2 in run_sql(spark, "SELECT * FROM t").collect()}
    assert got == {1: ("a", 10), 2: ("b", 20), 3: ("c", 30), 4: (None, 40)}
    # the pre-INSERT snapshot is intact (MVCC history, not overwrite)
    assert store.read(ts=1).count() == 2


def test_insert_implicit_columns_and_auto_handle(spark, tmp_path):
    store = _fresh(spark, tmp_path)
    store.add_column("tag", "string")  # bootstrap manifest
    # implicit list = handle + stored columns in schema order
    run_sql(spark, "INSERT INTO t VALUES (5, 'e', 50, 'x')", {"t": store})
    assert store.read().filter(f"{HANDLE} = 5").first().tag == "x"
    # omitting the handle column auto-allocates past the current max
    r = run_sql(
        spark, "INSERT INTO t (s, n, tag) VALUES ('f', 60, 'y'), ('g', 70, 'z')",
        {"t": store},
    ).collect()[0]
    assert r.rows_affected == 2
    got = {r2[HANDLE]: r2.s for r2 in store.read().collect()}
    assert got[6] == "f" and got[7] == "g"
    # arity mismatch is a hard error, not silent NULL-fill
    with pytest.raises(ValueError, match="values per row"):
        run_sql(spark, "INSERT INTO t VALUES (8, 'h')", {"t": store})


def test_replace_is_upsert(spark, tmp_path):
    store = _fresh(spark, tmp_path)
    run_sql(
        spark, f"REPLACE INTO t ({HANDLE}, s, n) VALUES (2, 'B2', 21)", {"t": store}
    )
    got = {r[HANDLE]: (r.s, r.n) for r in store.read().collect()}
    assert got == {1: ("a", 10), 2: ("B2", 21)}


def test_update_where_sees_pre_update_values(spark, tmp_path):
    store = _fresh(spark, tmp_path)
    # swap-style simultaneous assignment: both exprs read the OLD row
    r = run_sql(
        spark, "UPDATE t SET n = n + 100, s = concat(s, cast(n AS string)) "
        "WHERE n >= 10", {"t": store},
    ).collect()[0]
    assert r.rows_affected == 2
    got = {r2[HANDLE]: (r2.s, r2.n) for r2 in store.read().collect()}
    assert got == {1: ("a10", 110), 2: ("b20", 120)}
    # no-match UPDATE writes nothing (no empty batch, version unchanged)
    v = store.newest_version()
    r = run_sql(spark, "UPDATE t SET n = 0 WHERE n < 0", {"t": store}).collect()[0]
    assert r.rows_affected == 0 and store.newest_version() == v


def test_update_guards(spark, tmp_path):
    store = _fresh(spark, tmp_path)
    store.add_generated_column("n2", "long", "n * 2")
    with pytest.raises(ValueError, match="generated"):
        run_sql(spark, "UPDATE t SET n2 = 5", {"t": store})
    with pytest.raises(ValueError, match="immutable"):
        run_sql(spark, f"UPDATE t SET {HANDLE} = 9", {"t": store})
    with pytest.raises(ValueError, match="unknown columns"):
        run_sql(spark, "UPDATE t SET nope = 1", {"t": store})


def test_delete_where_and_full(spark, tmp_path):
    store = _fresh(spark, tmp_path)
    r = run_sql(spark, "DELETE FROM t WHERE s = 'a'", {"t": store}).collect()[0]
    assert (r.op, r.rows_affected) == ("delete", 1)
    assert {r2[HANDLE] for r2 in store.read().collect()} == {2}
    # history: the deleted row is still visible at its old snapshot
    assert {r2[HANDLE] for r2 in store.read(ts=1).collect()} == {1, 2}
    r = run_sql(spark, "DELETE FROM t", {"t": store}).collect()[0]
    assert r.rows_affected == 1
    assert store.read().count() == 0


def test_dml_respects_not_null_and_defaults(spark, tmp_path):
    store = _fresh(spark, tmp_path)
    store.add_column("tag", "string", default="d")
    store.set_column_nullable("n", False)
    with pytest.raises(ValueError, match="NOT NULL"):
        run_sql(
            spark, f"INSERT INTO t ({HANDLE}, s, n) VALUES (9, 'x', NULL)",
            {"t": store},
        )
    # omitted defaulted column materializes the write default
    run_sql(spark, f"INSERT INTO t ({HANDLE}, s, n) VALUES (9, 'x', 90)", {"t": store})
    assert store.read().filter(f"{HANDLE} = 9").first().tag == "d"


def test_dml_e2e_fullstack_flow_with_index_and_compaction(spark, tmp_path):
    """The reference test rhythm: INSERT → index → UPDATE/DELETE → the
    index-served read reflects the mutations exactly (delta wins) →
    compact → still exact."""
    store = DeltaStore(spark, str(tmp_path / "flow"))
    store.write_batch(
        spark.createDataFrame(
            [(i, f"doc {'alpha' if i % 2 else 'beta'} {i}") for i in range(10)],
            f"{HANDLE} long, body string",
        ),
        version=1,
    )
    store.compact(ts=1, num_segments=2)
    store.as_view("flow")
    run_sql(spark, "ALTER TABLE flow ADD FULLTEXT INDEX i1 (body)", {"flow": store})
    assert {r[HANDLE] for r in store.fts_match_word("body", "alpha").collect()} == {
        1, 3, 5, 7, 9,
    }
    run_sql(spark, "UPDATE flow SET body = 'now beta' WHERE "
            f"{HANDLE} = 1", {"flow": store})
    run_sql(spark, f"DELETE FROM flow WHERE {HANDLE} = 3", {"flow": store})
    run_sql(spark, f"INSERT INTO flow ({HANDLE}, body) VALUES (20, 'alpha fresh')",
            {"flow": store})
    want = {5, 7, 9, 20}
    assert {r[HANDLE] for r in store.fts_match_word("body", "alpha").collect()} == want
    run_sql(spark, "ALTER TABLE flow COMPACT TIFLASH REPLICA", {"flow": store})
    assert {r[HANDLE] for r in store.fts_match_word("body", "alpha").collect()} == want


def test_create_table_clustered_pk_flow(spark, tmp_path):
    """fullstack-test2/dml/test_table_scan.test rhythm: CREATE with a
    CLUSTERED pk -> INSERT -> SELECT -> UPDATE -> DELETE -> DROP, the pk
    exposed under its own name (a clustered int PK IS _tidb_rowid,
    MutableSupport.h:44)."""
    stores = {}
    r = run_sql(
        spark,
        "CREATE TABLE test.t_INT_CI(pk INT NOT NULL, col1 INT, col2 INT NOT NULL, "
        "PRIMARY KEY CLUSTERED (pk))",
        stores, base_path=str(tmp_path),
    ).collect()[0]
    assert (r.op, r.primary_key) == ("create", "pk")
    assert "t_INT_CI" in stores
    run_sql(spark, "INSERT INTO test.t_INT_CI VALUES (0, NULL, 0), (1, 7, 1)", stores)
    got = {r2.pk: (r2.col1, r2.col2) for r2 in run_sql(
        spark, "SELECT * FROM t_INT_CI").collect()}
    assert got == {0: (None, 0), 1: (7, 1)}
    run_sql(spark, "UPDATE test.t_INT_CI SET col1 = 9 WHERE pk = 1", stores)
    run_sql(spark, "DELETE FROM test.t_INT_CI WHERE pk = 0", stores)
    got = {r2.pk: r2.col1 for r2 in run_sql(spark, "SELECT * FROM t_INT_CI").collect()}
    assert got == {1: 9}
    # NOT NULL on a non-pk column is enforced at the write
    with pytest.raises(ValueError, match="NOT NULL"):
        run_sql(spark, "INSERT INTO test.t_INT_CI VALUES (2, 1, NULL)", stores)
    r = run_sql(spark, "DROP TABLE test.t_INT_CI", stores).collect()[0]
    assert r.op == "drop" and "t_INT_CI" not in stores
    # IF EXISTS on a gone table is a no-op, bare DROP raises
    assert run_sql(spark, "DROP TABLE IF EXISTS t_INT_CI", stores).collect()[0].op == "noop"
    with pytest.raises(ValueError, match="no DeltaStore"):
        run_sql(spark, "DROP TABLE t_INT_CI", stores)


def test_create_table_nonclustered_pk_auto_rowid(spark, tmp_path):
    """NONCLUSTERED pk keeps the hidden auto rowid; the pk is an
    ordinary stored column (TiDB nonclustered-index table)."""
    stores = {}
    run_sql(
        spark,
        "CREATE TABLE t_NCI(pk SMALLINT NOT NULL, col1 SMALLINT, "
        "PRIMARY KEY NONCLUSTERED (pk))",
        stores, base_path=str(tmp_path),
    )
    store = stores["t_NCI"]
    assert store.handle_alias() is None
    assert [n for n, _ in store.current_fields()] == ["pk", "col1"]
    run_sql(spark, "INSERT INTO t_NCI VALUES (10, 1), (20, 2)", stores)
    got = {r.pk: r.col1 for r in run_sql(spark, "SELECT * FROM t_NCI").collect()}
    assert got == {10: 1, 20: 2}


def test_create_table_types_defaults_and_empty_select(spark, tmp_path):
    """MySQL type mapping (TiDBTypes.h:26-55): UNSIGNED widens a tier,
    BIGINT UNSIGNED -> decimal(20,0); defaults are write-side; an empty
    CREATEd table SELECTs zero typed rows, not an error."""
    stores = {}
    run_sql(
        spark,
        "CREATE TABLE wide(id BIGINT NOT NULL PRIMARY KEY, "
        "u BIGINT UNSIGNED, v VARCHAR(20) DEFAULT 'x', "
        "d DECIMAL(10, 2), ts DATETIME, b BLOB, y YEAR)",
        stores, base_path=str(tmp_path),
    )
    df = run_sql(spark, "SELECT * FROM wide")
    assert df.count() == 0
    types = dict(df.dtypes)
    assert types["u"] == "decimal(20,0)" and types["d"] == "decimal(10,2)"
    # DATETIME is tz-naive in MySQL -> TIMESTAMP_NTZ (MySQL TIMESTAMP,
    # the session-tz-converting type, maps to Spark TIMESTAMP)
    assert types["ts"] == "timestamp_ntz" and types["b"] == "binary"
    assert types["y"] == "smallint" and types["id"] == "bigint"
    run_sql(
        spark,
        "INSERT INTO wide (id, u, d, ts, b, y) VALUES "
        "(1, 18446744073709551615, 1.25, '2005-02-23 04:13:26', X'0a0b', 2024)",
        stores,
    )
    row = run_sql(spark, "SELECT * FROM wide").collect()[0]
    assert row.v == "x"  # omitted column materializes the default
    assert str(row.u) == "18446744073709551615"
    assert row.ts.year == 2005 and bytes(row.b) == b"\x0a\x0b"


def test_insert_select(spark, tmp_path):
    """INSERT INTO ... SELECT: the batch is the query result; auto
    rowids for SELECT batches are sparse monotonically-increasing ids
    (distributed, no shuffle) floored above the current max."""
    stores = {}
    run_sql(
        spark,
        "CREATE TABLE src(k BIGINT NOT NULL, v BIGINT, PRIMARY KEY CLUSTERED (k))",
        stores, base_path=str(tmp_path),
    )
    run_sql(
        spark,
        "CREATE TABLE dst(k BIGINT NOT NULL, v BIGINT, PRIMARY KEY CLUSTERED (k))",
        stores, base_path=str(tmp_path),
    )
    run_sql(spark, "INSERT INTO src VALUES (1, 10), (2, 20), (3, 30)", stores)
    r = run_sql(
        spark, "INSERT INTO dst SELECT k, v * 2 AS v FROM src WHERE v >= 20", stores
    ).collect()[0]
    assert r.rows_affected == 2
    got = {x.k: x.v for x in run_sql(spark, "SELECT * FROM dst").collect()}
    assert got == {2: 40, 3: 60}
    # auto-handle SELECT insert: unique ids past the max, count preserved
    run_sql(
        spark,
        "CREATE TABLE log_t(msg VARCHAR(10))",
        stores, base_path=str(tmp_path),
    )
    run_sql(spark, "INSERT INTO log_t VALUES ('a')", stores)
    run_sql(
        spark, "INSERT INTO log_t (msg) SELECT concat('s', k) FROM src", stores
    )
    rows = run_sql(spark, "SELECT * FROM log_t").collect()
    assert len(rows) == 4 and len({r2.msg for r2 in rows}) == 4


def test_drop_index_lifecycle(spark, tmp_path):
    """fullstack-test-index/inverted/create-on-alter-table.test rhythm,
    extended with the DROP INDEX legs: results identical before the
    index, with it, after DROP INDEX (exact-scan fallback), and after
    re-ADD; the registry errors on unknown names."""
    stores = {}
    run_sql(
        spark,
        "CREATE TABLE tidx (pk BIGINT NOT NULL, i INT, body VARCHAR(64), "
        "PRIMARY KEY CLUSTERED (pk))",
        stores, base_path=str(tmp_path),
    )
    store = stores["tidx"]
    run_sql(
        spark,
        "INSERT INTO tidx VALUES (1, -2, 'quick fox'), (2, -1, 'lazy dog'), "
        "(3, 0, 'quick dog'), (4, 1, 'slow fox'), (5, 2, 'quick cat')",
        stores,
    )
    run_sql(spark, "ALTER TABLE tidx COMPACT TIFLASH REPLICA", stores)
    store.compact(ts=store.newest_version(), num_segments=2)

    def probe():
        # store-level reads expose the hidden handle; the pk alias only
        # surfaces through SQL views
        eq = {r[0] for r in store.read_where_in("i", [1]).select(HANDLE).collect()}
        fts = {
            r[0] for r in store.fts_match_word("body", "quick").select(HANDLE).collect()
        }
        return eq, fts

    want = ({4}, {1, 3, 5})
    assert probe() == want
    run_sql(spark, "ALTER TABLE tidx ADD COLUMNAR INDEX idx_i (i) USING INVERTED",
            stores)
    run_sql(spark, "ALTER TABLE tidx ADD FULLTEXT INDEX idx_b (body)", stores)
    assert set(store.named_indexes()) == {"idx_i", "idx_b"}
    assert probe() == want
    r = run_sql(spark, "ALTER TABLE tidx DROP INDEX idx_i", stores).collect()[0]
    assert (r.index_kind, r.column_name) == ("inverted", "i")
    assert probe() == want  # exact fallback, same rows
    assert store._index_meta("inverted") == {}
    run_sql(spark, "ALTER TABLE tidx DROP INDEX idx_b", stores)
    assert probe() == want
    assert store._index_meta("fulltext") == {}
    with pytest.raises(ValueError, match="no index named"):
        run_sql(spark, "ALTER TABLE tidx DROP INDEX idx_i", stores)
    # re-create after drop (the reference test's final leg)
    run_sql(spark, "ALTER TABLE tidx ADD COLUMNAR INDEX idx_i (i) USING INVERTED",
            stores)
    assert probe() == want


def test_show_tables_describe_show_create(spark, tmp_path):
    """Session introspection: SHOW TABLES / DESCRIBE / SHOW CREATE TABLE
    reconstruct the declared surface (pk, NOT NULL, defaults, generated
    columns, named indexes)."""
    stores = {}
    run_sql(
        spark,
        "CREATE TABLE insp (pk BIGINT NOT NULL, v VARCHAR(10) NOT NULL "
        "DEFAULT 'x', n BIGINT, PRIMARY KEY CLUSTERED (pk))",
        stores, base_path=str(tmp_path),
    )
    run_sql(spark, "INSERT INTO insp VALUES (1, 'a', 10)", stores)
    run_sql(spark, "ALTER TABLE insp ADD COLUMN n2 BIGINT AS (n * 2) VIRTUAL",
            stores)
    stores["insp"].compact(ts=1, num_segments=2)
    run_sql(spark, "ALTER TABLE insp ADD COLUMNAR INDEX idx_n (n) USING INVERTED",
            stores)
    assert [r.table_name for r in run_sql(spark, "SHOW TABLES", stores).collect()] == [
        "insp"
    ]
    d = {r.field: r for r in run_sql(spark, "DESCRIBE insp", stores).collect()}
    assert d["pk"].key == "PRI" and d["pk"].null == "NO"
    assert d["v"].null == "NO" and d["v"].default == "x"
    assert d["n"].null == "YES" and d["n"].default is None
    assert d["n2"].extra == "VIRTUAL GENERATED"
    ddl = run_sql(spark, "SHOW CREATE TABLE insp", stores).collect()[0].create_table
    assert "PRIMARY KEY (`pk`)" in ddl and "CLUSTERED" in ddl
    assert "`v` string NOT NULL DEFAULT 'x'" in ddl
    assert "AS (n * 2) VIRTUAL" in ddl
    assert "COLUMNAR INDEX `idx_n` (`n`)" in ddl
    # the declared order survives: pk first, then v, n, appended n2
    body = ddl.split("(", 1)[1]
    assert body.index("`pk`") < body.index("`v`") < body.index("`n`") < body.index("`n2`")


def test_stale_read_as_of_timestamp(spark, tmp_path):
    """Stale read through SQL (2023-02-21 design doc, TiDB `AS OF
    TIMESTAMP` syntax with commit versions as timestamps): historical
    snapshots by version, joinable against the current view."""
    stores = {}
    run_sql(
        spark,
        "CREATE TABLE sr (pk BIGINT NOT NULL, v BIGINT, PRIMARY KEY CLUSTERED (pk))",
        stores, base_path=str(tmp_path),
    )
    run_sql(spark, "INSERT INTO sr VALUES (1, 10), (2, 20)", stores)   # v1
    run_sql(spark, "UPDATE sr SET v = 99 WHERE pk = 1", stores)        # v2
    run_sql(spark, "DELETE FROM sr WHERE pk = 2", stores)              # v3
    got = {r.pk: r.v for r in run_sql(
        spark, "SELECT pk, v FROM sr AS OF TIMESTAMP 1", stores).collect()}
    assert got == {1: 10, 2: 20}
    got = {r.pk: r.v for r in run_sql(
        spark, "SELECT pk, v FROM sr AS OF TIMESTAMP 2", stores).collect()}
    assert got == {1: 99, 2: 20}
    got = {r.pk: r.v for r in run_sql(spark, "SELECT pk, v FROM sr", stores).collect()}
    assert got == {1: 99}
    # historical and current snapshots compose in one query
    [r] = run_sql(
        spark,
        "SELECT cur.pk, old.v AS v_old, cur.v AS v_cur "
        "FROM sr cur JOIN sr AS OF TIMESTAMP 1 old ON cur.pk = old.pk",
        stores,
    ).collect()
    assert (r.pk, r.v_old, r.v_cur) == (1, 10, 99)


def test_insert_select_as_of_restores_history(spark, tmp_path):
    """INSERT ... SELECT ... AS OF TIMESTAMP: restore deleted rows from
    a historical snapshot — the point-in-time-recovery idiom."""
    stores = {}
    run_sql(
        spark,
        "CREATE TABLE pitr (pk BIGINT NOT NULL, v BIGINT, PRIMARY KEY CLUSTERED (pk))",
        stores, base_path=str(tmp_path),
    )
    run_sql(spark, "INSERT INTO pitr VALUES (1, 10), (2, 20), (3, 30)", stores)
    run_sql(spark, "DELETE FROM pitr WHERE pk >= 2", stores)
    assert run_sql(spark, "SELECT * FROM pitr", stores).count() == 1
    run_sql(
        spark,
        "INSERT INTO pitr SELECT pk, v FROM pitr AS OF TIMESTAMP 1 WHERE pk >= 2",
        stores,
    )
    got = {r.pk: r.v for r in run_sql(spark, "SELECT * FROM pitr", stores).collect()}
    assert got == {1: 10, 2: 20, 3: 30}


def test_insert_select_large_batch_sparse_ids(spark, tmp_path):
    """Scale path: a 500k-row INSERT ... SELECT gets distributed sparse
    auto-rowids (monotonically_increasing_id) — unique across partitions,
    floored above the pre-statement max, no shuffle imposed; a follow-up
    statement allocates above the gaps."""
    stores = {}
    run_sql(
        spark,
        "CREATE TABLE big (v BIGINT)",
        stores, base_path=str(tmp_path),
    )
    run_sql(spark, "INSERT INTO big VALUES (0)", stores)
    run_sql(
        spark,
        "INSERT INTO big SELECT id AS v FROM range(500000)",
        stores,
    )
    store = stores["big"]
    from pyspark.sql import functions as F

    stats = store.read().agg(
        F.count("*").alias("n"),
        F.countDistinct("_tidb_rowid").alias("nh"),
        F.min("_tidb_rowid").alias("lo"),
    ).collect()[0]
    assert stats.n == 500_001 and stats.nh == 500_001
    assert stats.lo == 1  # the VALUES row kept the dense floor
    prior_max = store.max_handle()
    run_sql(spark, "INSERT INTO big VALUES (7)", stores)
    assert store.max_handle() == prior_max + 1  # floored above the gaps


def test_information_schema_virtual_tables(spark, tmp_path):
    """read_system_table.test rhythm: tiflash_replica one row per
    registered table; tiflash_segments/tiflash_tables expose the store's
    DT_* rows under a tidb_table column, filterable in plain SQL."""
    stores = {}
    run_sql(
        spark,
        "CREATE TABLE ts (pk BIGINT NOT NULL, a INT, PRIMARY KEY CLUSTERED (pk))",
        stores, base_path=str(tmp_path),
    )
    run_sql(spark, "INSERT INTO ts VALUES (1, 1), (2, 2), (3, 3)", stores)
    # replica listing is gated on the DDL having run (TiDB: a table
    # appears in tiflash_replica only after SET TIFLASH REPLICA n>0)
    assert run_sql(
        spark, "SELECT * FROM information_schema.tiflash_replica", stores
    ).count() == 0
    run_sql(spark, "ALTER TABLE ts SET TIFLASH REPLICA 1", stores)
    [r] = run_sql(
        spark,
        "SELECT table_name, replica_count, available, progress "
        "FROM information_schema.tiflash_replica",
        stores,
    ).collect()
    assert (r.table_name, r.replica_count, r.available, r.progress) == ("ts", 1, 1, 1.0)
    stores["ts"].compact(ts=stores["ts"].newest_version(), num_segments=2)
    rows = run_sql(
        spark,
        "SELECT tidb_table, seg, stable_rows FROM "
        "information_schema.tiflash_segments WHERE tidb_table = 'ts' "
        "ORDER BY seg",
        stores,
    ).collect()
    assert [r2.tidb_table for r2 in rows] == ["ts", "ts"]
    assert sum(r2.stable_rows for r2 in rows) == 3
    [t] = run_sql(
        spark,
        "SELECT tidb_table, stable_rows FROM information_schema.tiflash_tables",
        stores,
    ).collect()
    assert (t.tidb_table, t.stable_rows) == ("ts", 3)


def test_avg_scale_is_source_scale_plus_four(spark, tmp_path):
    """MySQL AVG result scale = source scale + div_precision_increment
    (4): INT in -> 4 fractional digits, DECIMAL(M,D) in -> D+4 digits
    (NOT a constant 4), double in -> full precision."""
    stores = {}
    run_sql(
        spark,
        "CREATE TABLE avgt (id BIGINT NOT NULL, d DECIMAL(10,2), i INT, "
        "f DOUBLE, PRIMARY KEY CLUSTERED (id))",
        stores, base_path=str(tmp_path),
    )
    run_sql(
        spark,
        "INSERT INTO avgt VALUES (1, 1.01, 1, 1.5), (2, 1.02, 2, 2.0), "
        "(3, 1.02, 4, 4.0)",
        stores,
    )
    r = run_sql(
        spark, "SELECT avg(d) AS a, avg(i) AS b, avg(f) AS c FROM avgt", stores
    ).collect()[0]
    assert r.a == pytest.approx(1.016667)  # D+4 = 6 digits, not 1.0167
    assert r.b == pytest.approx(2.3333)
    assert r.c == pytest.approx(2.5)


def test_show_create_omits_dropped_default(spark, tmp_path):
    """CHANGE COLUMN without DEFAULT drops the default; SHOW CREATE TABLE
    must then omit the clause, not render the Python literal 'None'."""
    stores = {}
    run_sql(
        spark,
        "CREATE TABLE dd (pk BIGINT NOT NULL, v VARCHAR(5) DEFAULT 'x', "
        "PRIMARY KEY CLUSTERED (pk))",
        stores, base_path=str(tmp_path),
    )
    run_sql(spark, "ALTER TABLE dd CHANGE v v VARCHAR(5)", stores)
    ddl = run_sql(spark, "SHOW CREATE TABLE dd", stores).collect()[0].create_table
    assert "None" not in ddl
    assert "`v` string" in ddl and "DEFAULT" not in ddl
