"""ALTER TABLE ... COMPACT admin-SQL surface over DeltaStore
(docs/design/2022-05-19-compact-table-via-sql.md analogue)."""

from __future__ import annotations

import pytest

# long replay/property/parity sweep: excluded from the default run
# (pytest.ini addopts); scripts/full_suite.sh runs everything
pytestmark = pytest.mark.slow

import pytest

from tiflash_spark.operators.mvcc import HANDLE
from tiflash_spark.sources.admin_sql import run_sql
from tiflash_spark.sources.delta_store import DeltaStore


def _store(spark, tmp_path):
    store = DeltaStore(spark, str(tmp_path / "t"))
    store.write_batch(
        spark.createDataFrame(
            [(1, "a1"), (2, "b1")], f"{HANDLE} long, v string"
        ),
        version=1,
    )
    store.write_batch(
        spark.createDataFrame([(1, "a2")], f"{HANDLE} long, v string"), version=2
    )
    return store


def test_compact_statement_folds_delta_and_refreshes_view(spark, tmp_path):
    store = _store(spark, tmp_path)
    store.as_view("docs_t")
    res = run_sql(
        spark, "ALTER TABLE docs_t COMPACT TIFLASH REPLICA", {"docs_t": store}
    ).collect()[0]
    assert res.table_name == "docs_t" and res.safe_point == 2
    assert res.rows_kept == 2  # newest-per-handle after fold
    # delta folded away; reads unchanged; view re-registered post-compact
    assert store._layer("delta") is None
    got = {r[HANDLE]: r.v for r in run_sql(spark, "SELECT * FROM docs_t").collect()}
    assert got == {1: "a2", 2: "b1"}


def test_non_admin_sql_passes_through(spark):
    assert run_sql(spark, "SELECT 1 + 1 AS two").collect()[0].two == 2


def test_unregistered_table_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no DeltaStore registered"):
        run_sql(spark, "ALTER TABLE nope COMPACT", {})


def test_mysql_limit_offset_tail_rewrite(spark):
    rows = run_sql(
        spark,
        "SELECT id FROM (SELECT explode(sequence(0, 9)) AS id) ORDER BY id LIMIT 3, 2",
    ).collect()
    assert [r.id for r in rows] == [3, 4]


def test_alter_column_statements_route_to_schema_registry(spark, tmp_path):
    """ADD/MODIFY/DROP COLUMN drive the store's online-DDL registry and
    refresh the view; reads reflect each version immediately."""
    store = _store(spark, tmp_path)
    stores = {"t_ddl": store}
    store.as_view("t_ddl")
    r = run_sql(spark, "ALTER TABLE t_ddl ADD COLUMN score INT", stores).collect()[0]
    assert (r.op, r.column_name) == ("add", "score")
    assert dict(run_sql(spark, "SELECT * FROM t_ddl").dtypes)["score"] == "int"
    r = run_sql(
        spark, "ALTER TABLE t_ddl MODIFY COLUMN score BIGINT", stores
    ).collect()[0]
    assert r.op == "modify" and r.schema_version > 1
    assert dict(run_sql(spark, "SELECT * FROM t_ddl").dtypes)["score"] == "bigint"
    run_sql(spark, "ALTER TABLE t_ddl DROP COLUMN score", stores)
    assert "score" not in dict(run_sql(spark, "SELECT * FROM t_ddl").dtypes)
    # decimal types with (p,s) parse through the statement form
    r = run_sql(
        spark, "ALTER TABLE t_ddl ADD COLUMN amt DECIMAL(10, 2)", stores
    ).collect()[0]
    assert r.op == "add"
    assert dict(run_sql(spark, "SELECT * FROM t_ddl").dtypes)["amt"] == "decimal(10,2)"


def test_compact_partition_statement_runs_incremental(spark, tmp_path):
    """COMPACT PARTITION maps to the per-segment incremental delta merge:
    only segments the delta touches are rewritten."""
    from pyspark.sql import functions as F

    store = _store(spark, tmp_path)
    store.compact_range_segments(ts=2, num_segments=2)
    # dirty exactly one segment
    store.write_batch(
        spark.createDataFrame([(1, "a3")], f"{HANDLE} long, v string"), version=3
    )
    store.as_view("t_part")
    res = run_sql(
        spark, "ALTER TABLE t_part COMPACT PARTITION TIFLASH REPLICA",
        {"t_part": store},
    ).collect()[0]
    assert res.segments_total == 2 and res.segments_rewritten == 1
    got = {r[HANDLE]: r.v for r in run_sql(spark, "SELECT * FROM t_part").collect()}
    assert got == {1: "a3", 2: "b1"}


def test_generated_column_statement(spark, tmp_path):
    """mpp/generated_column.test through SQL: `ADD COLUMN __col INT AS
    (v2) VIRTUAL` computes at read via the refreshed view."""
    store = _store(spark, tmp_path)
    stores = {"t_gen": store}
    store.add_column("v2", "int")
    store.write_batch(
        spark.createDataFrame([(9, "z", 7)], f"{HANDLE} long, v string, v2 int"),
        version=5,
    )
    r = run_sql(
        spark, "ALTER TABLE t_gen ADD COLUMN __col INT AS (v2) VIRTUAL", stores
    ).collect()[0]
    assert r.op == "add"
    got = {
        row[HANDLE]: row["__col"]
        for row in run_sql(spark, "SELECT * FROM t_gen").collect()
    }
    assert got[9] == 7 and got[1] is None


def test_explain_statement(spark):
    from tiflash_spark.sources.admin_sql import run_sql

    spark.range(100).selectExpr("id", "id % 7 AS g").createOrReplaceTempView(
        "explain_t"
    )
    plan = run_sql(
        spark, "EXPLAIN SELECT g, COUNT(*) AS n FROM explain_t GROUP BY g"
    ).collect()
    text = "\n".join(r.plan for r in plan)
    assert "HashAggregate" in text and "Physical Plan" in text
    # EXPLAIN ANALYZE executes and returns per-operator SQLMetrics
    prof = run_sql(
        spark, "EXPLAIN ANALYZE SELECT g, COUNT(*) AS n FROM explain_t GROUP BY g"
    ).collect()
    ops = {r.operator for r in prof}
    assert any("HashAggregate" in o for o in ops)
    out_rows = [
        r.value for r in prof
        if "HashAggregate" in r.operator and r.metric == "numOutputRows"
    ]
    assert out_rows and max(out_rows) >= 7
    # the MySQL LIMIT shim applies inside the explained query too
    plan2 = run_sql(spark, "EXPLAIN SELECT id FROM explain_t LIMIT 5, 10").collect()
    text2 = "\n".join(r.plan for r in plan2)
    # LIMIT 5, 10 -> LIMIT 10 OFFSET 5 -> CollectLimit(limit=15, offset=5)
    assert "CollectLimit" in text2 and "15, 5" in text2


def test_truncate_table_statement(spark, tmp_path):
    """TRUNCATE TABLE (ddl/alter_truncate_table.test): data and history
    vanish atomically; schema (incl. defaults) survives; writes resume."""
    from tiflash_spark.sources.admin_sql import run_sql
    from tiflash_spark.sources.delta_store import HANDLE, DeltaStore

    s = DeltaStore(spark, str(tmp_path / "trunc1"))
    s.write_batch(
        spark.createDataFrame([(1, "a"), (2, "b")], f"{HANDLE} long, v string"),
        version=1,
    )
    s.add_column("tag", "string", default="x")
    s.compact(ts=1, num_segments=2)
    s.build_fulltext_index("v")
    r = run_sql(spark, "TRUNCATE TABLE t", {"t": s}).collect()[0]
    assert r.op == "truncate"
    assert s.read().count() == 0
    assert s.read(ts=1).count() == 0  # history gone too (table recreated)
    assert "v" not in s._index_meta("fulltext")  # index died with the layer
    # schema intact: writes resume, default still materializes
    s.write_batch(
        spark.createDataFrame([(3, "c")], f"{HANDLE} long, v string"), version=2
    )
    row = s.read().first()
    assert (row.v, row.tag) == ("c", "x")


def test_add_column_not_null_constraint_sticks(spark, tmp_path):
    """ADD COLUMN c t NOT NULL DEFAULT d: the constraint must register
    (writes with NULLs rejected), not silently drop; DEFAULT fills
    existing rows so the data validation passes."""
    from tiflash_spark.sources.admin_sql import run_sql
    from tiflash_spark.sources.delta_store import HANDLE, DeltaStore

    s = DeltaStore(spark, str(tmp_path / "nn1"))
    s.write_batch(
        spark.createDataFrame([(1, "a")], f"{HANDLE} long, v string"), version=1
    )
    run_sql(spark, "ALTER TABLE t ADD COLUMN score BIGINT NOT NULL DEFAULT 5", {"t": s})
    assert "score" in s.current_not_null()
    with pytest.raises(ValueError, match="NOT NULL"):
        s.write_batch(
            spark.createDataFrame(
                [(2, "b", None)], f"{HANDLE} long, v string, score long"
            ),
            version=2,
        )
    # NOT NULL without DEFAULT on a non-empty table: MySQL fills the
    # type's implicit default (0 for numerics, '' for strings) into
    # existing rows (reference ddl/alter_default_value.test's
    # `add column b year not null` over populated t)
    run_sql(spark, "ALTER TABLE t ADD COLUMN n2 BIGINT NOT NULL", {"t": s})
    assert "n2" in s.current_not_null()
    got = {r[HANDLE]: r.n2 for r in s.read().collect()}
    assert got[1] == 0  # pre-ADD row reads the implicit zero fill


def test_add_column_default_null_is_no_default(spark, tmp_path):
    """DEFAULT NULL == no default (MySQL): existing rows must read SQL
    NULL, never the literal string 'NULL'."""
    from tiflash_spark.sources.admin_sql import run_sql
    from tiflash_spark.sources.delta_store import HANDLE, DeltaStore

    s = DeltaStore(spark, str(tmp_path / "dn1"))
    s.write_batch(
        spark.createDataFrame([(1, "a")], f"{HANDLE} long, v string"), version=1
    )
    run_sql(spark, "ALTER TABLE t ADD COLUMN tag VARCHAR(10) DEFAULT NULL", {"t": s})
    assert s.current_defaults() == {}
    assert s.read().first().tag is None
    # a QUOTED 'NULL' string is a real default, not the bare keyword
    run_sql(spark, "ALTER TABLE t ADD COLUMN lit VARCHAR(10) DEFAULT 'NULL'", {"t": s})
    assert s.read().first().lit == "NULL"


def test_truncate_resets_default_fill_gate(spark, tmp_path):
    """Post-TRUNCATE, a writer that restarts versions and writes an
    EXPLICIT NULL at a version <= the ADD-time 'since' must keep the
    NULL — the pre-ADD fill gate cannot apply to recreated data."""
    from tiflash_spark.sources.admin_sql import run_sql
    from tiflash_spark.sources.delta_store import HANDLE, DeltaStore

    s = DeltaStore(spark, str(tmp_path / "tr1"))
    s.write_batch(
        spark.createDataFrame([(i, "x") for i in range(5)], f"{HANDLE} long, v string"),
        version=7,
    )
    s.add_column("tag", "string", default="d")  # since = 7
    assert s.read().first().tag == "d"
    run_sql(spark, "TRUNCATE TABLE t", {"t": s})
    # version log restarted; explicit NULL at version 1 (<= stale since)
    s.write_batch(
        spark.createDataFrame([(1, "y", None)], f"{HANDLE} long, v string, tag string"),
        version=1,
    )
    assert s.read().first().tag is None
    # omitted column still materializes the write default
    s.write_batch(
        spark.createDataFrame([(2, "z")], f"{HANDLE} long, v string"), version=2
    )
    got = {r[HANDLE]: r.tag for r in s.read().collect()}
    assert got == {1: None, 2: "d"}
