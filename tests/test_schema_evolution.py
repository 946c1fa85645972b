"""Online DDL / schema evolution on DeltaStore (reference
dbms/src/TiDB/Schema/SchemaBuilder.cpp, TiDBSchemaSyncer.cpp; storage side
dbms/src/Storages/DeltaMerge/SchemaUpdate.cpp): versioned schema manifest,
add/drop column between delta batches, reads reconciling old files to the
current schema (missing -> NULL, dropped -> pruned), compaction rewriting
to the latest schema — the reference's online-DDL storage test flow
(write v1 rows, alter, write v2 rows, snapshot-read both sides, compact,
re-read)."""

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


def _rows(spark, pairs, schema):
    return spark.createDataFrame(pairs, schema=schema)


def test_add_column_old_rows_read_null(spark, tmp_path):
    store = DeltaStore(spark, str(tmp_path / "s1"))
    store.write_batch(
        _rows(spark, [(1, "a"), (2, "b")], f"{HANDLE} long, name string"), version=1
    )
    assert store.schema_version() is None  # legacy until first DDL
    v = store.add_column("score", "bigint")
    assert v == 2  # v1 bootstrapped from observed schema
    store.write_batch(
        _rows(spark, [(3, "c", 30)], f"{HANDLE} long, name string, score bigint"),
        version=2,
    )
    out = {r[HANDLE]: (r["name"], r["score"]) for r in store.read().collect()}
    assert out == {1: ("a", None), 2: ("b", None), 3: ("c", 30)}
    # snapshot BEFORE the ddl-era write still surfaces the current schema
    old = {r[HANDLE]: (r["name"], r["score"]) for r in store.read(1).collect()}
    assert old == {1: ("a", None), 2: ("b", None)}
    assert [f.name for f in store.read().schema.fields] == [HANDLE, "name", "score"]


def test_lagging_writer_conformed_and_unknown_column_rejected(spark, tmp_path):
    store = DeltaStore(spark, str(tmp_path / "s2"))
    store.write_batch(_rows(spark, [(1, "a")], f"{HANDLE} long, name string"), version=1)
    store.add_column("score", "bigint")
    # a writer one DDL behind: missing column becomes NULL
    store.write_batch(_rows(spark, [(2, "b")], f"{HANDLE} long, name string"), version=2)
    assert {r[HANDLE]: r["score"] for r in store.read().collect()} == {1: None, 2: None}
    # unknown column = hard error, never silent loss
    with pytest.raises(ValueError, match="not in schema"):
        store.write_batch(
            _rows(spark, [(3, "c", 1)], f"{HANDLE} long, name string, bogus int"),
            version=3,
        )


def test_drop_column_pruned_everywhere_and_compact_rewrites(spark, tmp_path):
    store = DeltaStore(spark, str(tmp_path / "s3"))
    store.write_batch(
        _rows(spark, [(1, "a", 1.5), (2, "b", 2.5)],
              f"{HANDLE} long, name string, weight double"),
        version=1,
    )
    store.add_column("score", "bigint")
    store.write_batch(
        _rows(spark, [(3, "c", 3.5, 30)],
              f"{HANDLE} long, name string, weight double, score bigint"),
        version=2,
    )
    store.drop_column("weight")
    before = {r[HANDLE]: (r["name"], r["score"]) for r in store.read().collect()}
    assert "weight" not in store.read().columns
    assert before == {1: ("a", None), 2: ("b", None), 3: ("c", 30)}

    # compaction rewrites stable to the LATEST schema: dropped column's
    # bytes gone from the physical files, added column materialized
    n = store.compact(ts=2)
    assert n == 3
    physical = spark.read.parquet(store.stable_path())
    assert "weight" not in physical.columns
    assert "score" in physical.columns
    after = {r[HANDLE]: (r["name"], r["score"]) for r in store.read().collect()}
    assert after == before
    # writes after the rewrite keep working
    store.write_batch(
        _rows(spark, [(1, "a2", 99)], f"{HANDLE} long, name string, score bigint"),
        version=9,
    )
    assert {r[HANDLE]: r["score"] for r in store.read().collect()}[1] == 99


def test_readd_dropped_name_requires_same_type(spark, tmp_path):
    store = DeltaStore(spark, str(tmp_path / "s4"))
    store.write_batch(_rows(spark, [(1, 10)], f"{HANDLE} long, x bigint"), version=1)
    store.drop_column("x")
    with pytest.raises(ValueError, match="existed as bigint"):
        store.add_column("x", "string")
    store.add_column("x", "bigint")  # same type: old values resurface
    assert {r[HANDLE]: r["x"] for r in store.read().collect()} == {1: 10}
    with pytest.raises(ValueError, match="already exists"):
        store.add_column("x", "bigint")
    with pytest.raises(ValueError, match="not in current schema"):
        store.drop_column("nope")
    with pytest.raises(ValueError, match="internal"):
        store.add_column(HANDLE, "long")


def test_ddl_across_incremental_segment_compaction(spark, tmp_path):
    """DDL between a range compaction and an incremental one: cold
    segments keep their old-schema files (reads fill NULL); only the hot
    segment is rewritten — with the new schema."""
    store = DeltaStore(spark, str(tmp_path / "s5"))
    base = spark.createDataFrame(
        [Row(**{HANDLE: h, "v": h * 10}) for h in range(0, 400)]
    )
    store.write_batch(base, version=1)
    store.compact_range_segments(ts=1, num_segments=4)

    store.add_column("tag", "string")
    store.write_batch(
        _rows(spark, [(150, 1500, "hot")], f"{HANDLE} long, v long, tag string"),
        version=2,
    )
    seg_dir = lambda s: os.path.join(store.stable_path(), f"_seg={s}")  # noqa: E731
    cold_files = {s: sorted(os.listdir(seg_dir(s))) for s in (0, 2, 3)}
    rewritten, total = store.compact_segments_incremental(ts=2)
    assert (rewritten, total) == (1, 4)
    for s in (0, 2, 3):
        assert sorted(os.listdir(seg_dir(s))) == cold_files[s]
    # hot segment: new schema on disk; cold segment reads: tag IS NULL
    hot = spark.read.parquet(seg_dir(1))
    assert "tag" in hot.columns
    out = {r[HANDLE]: (r["v"], r["tag"]) for r in store.read_range(148, 152).collect()}
    assert out == {148: (1480, None), 149: (1490, None), 150: (1500, "hot"),
                   151: (1510, None)}
    cold = {r[HANDLE]: r["tag"] for r in store.read_range(0, 3).collect()}
    assert cold == {0: None, 1: None, 2: None}


def test_point_reads_and_full_compact_after_ddl_on_hash_segments(spark, tmp_path):
    store = DeltaStore(spark, str(tmp_path / "s6"))
    store.write_batch(
        _rows(spark, [(h, f"x{h}") for h in range(20)], f"{HANDLE} long, v string"),
        version=1,
    )
    store.compact(ts=1, num_segments=4)
    store.add_column("extra", "int")
    store.write_batch(
        _rows(spark, [(5, "new", 7)], f"{HANDLE} long, v string, extra int"), version=2
    )
    got = {r[HANDLE]: (r["v"], r["extra"]) for r in store.read_handles([3, 5]).collect()}
    assert got == {3: ("x3", None), 5: ("new", 7)}
    # full hash re-compact folds everything into the new schema
    store.compact(ts=2, num_segments=4)
    physical = spark.read.option("mergeSchema", "true").parquet(store.stable_path())
    assert "extra" in physical.columns
    got = {r[HANDLE]: (r["v"], r["extra"]) for r in store.read_handles([3, 5]).collect()}
    assert got == {3: ("x3", None), 5: ("new", 7)}


def test_store_as_sql_view(spark, tmp_path):
    """as_view: SQL over the replicated table, incl. a stale-read view
    pinned at an earlier version."""
    from pyspark.sql import Row

    from tiflash_spark.operators.mvcc import HANDLE
    from tiflash_spark.sources.delta_store import DeltaStore

    s = DeltaStore(spark, str(tmp_path / "v"))
    s.write_batch(
        spark.createDataFrame([Row(**{HANDLE: 1, "v": 10}), Row(**{HANDLE: 2, "v": 20})]),
        version=1,
    )
    s.write_batch(spark.createDataFrame([Row(**{HANDLE: 2, "v": 99})]), version=2)
    s.as_view("repl_now")
    s.as_view("repl_stale", ts=1)
    assert spark.sql("SELECT SUM(v) AS s FROM repl_now").collect()[0].s == 109
    assert spark.sql("SELECT SUM(v) AS s FROM repl_stale").collect()[0].s == 30


def test_modify_column_lossless_widening(spark, tmp_path):
    """MODIFY COLUMN int->bigint: schema-registry change, no rewrite —
    old int files and new bigint files read together through the widened
    schema; values survive; compact rewrites at the new type."""
    from pyspark.sql import functions as F

    store = DeltaStore(spark, str(tmp_path / "t"))
    store.write_batch(
        spark.createDataFrame([(1, 10), (2, 20)], f"{HANDLE} long, v int"),
        version=1,
    )
    store.compact(ts=1)
    v = store.modify_column("v", "bigint")
    assert v == store.schema_version()
    # write AFTER the modify: conforms to bigint; old stable stays int
    store.write_batch(
        spark.createDataFrame([(3, 3_000_000_000)], f"{HANDLE} long, v long"),
        version=2,
    )
    got = {r[HANDLE]: r.v for r in store.read().collect()}
    assert got == {1: 10, 2: 20, 3: 3_000_000_000}
    assert dict(store.read().dtypes)["v"] == "bigint"
    # compact folds everything into bigint files; plain merge path returns
    store.compact(ts=2)
    got2 = {r[HANDLE]: r.v for r in store.read().collect()}
    assert got2 == got


def test_modify_column_decimal_growth_and_rejections(spark, tmp_path):
    import pytest
    from decimal import Decimal
    from pyspark.sql import types as T

    store = DeltaStore(spark, str(tmp_path / "t"))
    schema = T.StructType(
        [T.StructField(HANDLE, T.LongType()),
         T.StructField("d", T.DecimalType(10, 2))]
    )
    store.write_batch(
        spark.createDataFrame([(1, Decimal("1.25"))], schema), version=1
    )
    store.modify_column("d", "decimal(20,4)")
    [r] = store.read().collect()
    assert r.d == Decimal("1.2500")
    # rejections: narrowing, scale loss, unknown column, internal column
    with pytest.raises(ValueError, match="lossless"):
        store.modify_column("d", "decimal(10,2)")  # scale 4 -> 2 loses digits
    with pytest.raises(ValueError, match="not in current schema"):
        store.modify_column("nope", "bigint")
    with pytest.raises(ValueError, match="internal"):
        store.modify_column(HANDLE, "string")


def test_modify_column_invalidates_sidecar_indexes(spark, tmp_path):
    """Zone map and inverted index entries typed at the OLD type are
    dropped for the modified column (absent => scan, never a stale
    prune); other columns' entries survive; reads stay correct."""
    store = DeltaStore(spark, str(tmp_path / "t"))
    store.write_batch(
        spark.createDataFrame(
            [(i, i, f"s{i}") for i in range(20)],
            f"{HANDLE} long, v int, s string",
        ),
        version=1,
    )
    store.compact_range_segments(ts=1, num_segments=2)
    store.build_zonemap(["v", "s"])
    store.build_inverted_index(["v"])
    store.modify_column("v", "bigint")
    zm = store._index_meta("zonemap")
    assert "v" not in zm["cols"] and "s" in zm["cols"]
    assert all("v" not in ent for ent in zm["segs"].values())
    assert "v" not in store._index_meta("inverted")
    got = {r[HANDLE] for r in store.read_where("v", lo=5, hi=9).collect()}
    assert got == {5, 6, 7, 8, 9}


def test_virtual_generated_column(spark, tmp_path):
    """TiDB virtual generated column (mpp/generated_column.test shape:
    `__col int as (col) virtual`): computed at read, never stored, writes
    rejecting explicit values, surviving compaction, droppable."""
    import pytest
    from pyspark.sql import functions as F

    store = DeltaStore(spark, str(tmp_path / "t"))
    store.write_batch(
        spark.createDataFrame([(1, 10), (2, 20)], f"{HANDLE} long, col int"),
        version=1,
    )
    store.add_generated_column("__col", "int", "col")
    store.add_generated_column("col2x", "bigint", "col * 2")
    got = {(r[HANDLE], r.col, r["__col"], r.col2x) for r in store.read().collect()}
    assert got == {(1, 10, 10, 20), (2, 20, 20, 40)}
    # never stored: the stable/delta files know nothing about it
    assert "__col" not in store.log().columns
    # writes may not supply a generated value...
    with pytest.raises(ValueError, match="generated"):
        store.write_batch(
            spark.createDataFrame(
                [(3, 30, 99)], f"{HANDLE} long, col int, __col int"
            ),
            version=2,
        )
    # ...but normal writes + compaction keep computing it
    store.write_batch(
        spark.createDataFrame([(3, 30)], f"{HANDLE} long, col int"), version=2
    )
    store.compact(ts=2)
    assert {r["__col"] for r in store.read().collect()} == {10, 20, 30}
    assert "__col" not in store._layer("stable").columns
    # chaining and MODIFY are rejected; DROP removes expression + column
    with pytest.raises(ValueError, match="only reference stored"):
        store.add_generated_column("bad", "int", "__col + 1")
    with pytest.raises(ValueError, match="generated"):
        store.modify_column("__col", "bigint")
    store.drop_column("__col")
    assert "__col" not in store.read().columns
    assert "__col" not in store.current_gen()


def test_rename_column_metadata_only(spark, tmp_path):
    """RENAME COLUMN (reference SchemaBuilder rename path): files keep
    their write-time names, reads coalesce through the prior-name
    chain, writes use the new name, chains survive double renames, and
    compaction folds everything under the new name."""
    import itertools as _it

    from tiflash_spark.sources.delta_store import HANDLE, DeltaStore

    s = DeltaStore(spark, str(tmp_path / "ren1"))
    s.write_batch(
        spark.createDataFrame([(1, 10), (2, 20)], f"{HANDLE} long, a int"),
        version=1,
    )
    s.add_column("a", "int") if False else None
    s.compact(ts=1)
    v = s.rename_column("a", "b")
    assert v >= 1
    got = {r[HANDLE]: r.b for r in s.read().collect()}
    assert got == {1: 10, 2: 20}
    assert "a" not in s.read().columns
    # writes go under the NEW name; old-file rows still read
    s.write_batch(
        spark.createDataFrame([(3, 30)], f"{HANDLE} long, b int"), version=2
    )
    got = {r[HANDLE]: r.b for r in s.read().collect()}
    assert got == {1: 10, 2: 20, 3: 30}
    # writing under the old name is rejected (not in schema)
    import pytest as _pt

    with _pt.raises(ValueError):
        s.write_batch(
            spark.createDataFrame([(4, 40)], f"{HANDLE} long, a int"), version=3
        )
    # double rename chains through BOTH prior names
    v2 = s.rename_column("b", "c")
    got = {r[HANDLE]: r.c for r in s.read().collect()}
    assert got == {1: 10, 2: 20, 3: 30}
    # re-adding a prior stored name is rejected
    with _pt.raises(ValueError, match="prior stored name"):
        s.add_column("a", "int")
    # compaction rewrites under the current name; reads unchanged
    s.compact(ts=3)
    got = {r[HANDLE]: r.c for r in s.read().collect()}
    assert got == {1: 10, 2: 20, 3: 30}
    stable_cols = spark.read.parquet(s.stable_path()).columns
    assert "c" in stable_cols and "a" not in stable_cols and "b" not in stable_cols


def test_rename_column_invalidates_indexes_and_sql_form(spark, tmp_path):
    from tiflash_spark.sources.admin_sql import run_sql
    from tiflash_spark.sources.delta_store import HANDLE, DeltaStore

    s = DeltaStore(spark, str(tmp_path / "ren2"))
    s.write_batch(
        spark.createDataFrame(
            [(i, i % 5, f"text {i}") for i in range(20)],
            f"{HANDLE} long, g int, body string",
        ),
        version=1,
    )
    s.compact(ts=1, num_segments=2)
    s.build_inverted_index(["g"])
    s.build_fulltext_index("body")
    r = run_sql(
        spark, "ALTER TABLE t RENAME COLUMN g TO grp", {"t": s}
    ).collect()[0]
    assert (r.old_name, r.new_name) == ("g", "grp")
    assert "g" not in s._index_meta("inverted") and "grp" not in s._index_meta("inverted")
    # renamed column still reads and filters correctly without the index
    assert s.read_where_in("grp", [2]).count() == 4
    # fts index untouched by an unrelated rename
    assert "body" in s._index_meta("fulltext")
    # generated-column reference blocks the rename
    s.add_generated_column("g2", "int", "grp * 2")
    import pytest as _pt

    with _pt.raises(ValueError, match="references"):
        s.rename_column("grp", "g3")


def test_add_column_with_default_fills_existing_rows(spark, tmp_path):
    """ADD COLUMN ... DEFAULT (reference alter_*_default_value suites):
    pre-DDL rows surface the default with zero rewrite; omitted columns
    at write materialize it; an explicit post-DDL NULL STAYS NULL; and
    compaction bakes the fill into the stable files."""
    from tiflash_spark.sources.delta_store import HANDLE, DeltaStore

    s = DeltaStore(spark, str(tmp_path / "dflt1"))
    s.write_batch(
        spark.createDataFrame([(1, "a"), (2, "b")], f"{HANDLE} long, v string"),
        version=1,
    )
    s.add_column("score", "decimal(9,2)", default="7.25")
    got = {r[HANDLE]: r.score for r in s.read().collect()}
    from decimal import Decimal

    assert got == {1: Decimal("7.25"), 2: Decimal("7.25")}
    # omitted column at write -> default; explicit NULL stays NULL
    s.write_batch(
        spark.createDataFrame([(3, "c")], f"{HANDLE} long, v string"), version=2
    )
    s.write_batch(
        spark.createDataFrame(
            [(4, "d", None)], f"{HANDLE} long, v string, score decimal(9,2)"
        ),
        version=3,
    )
    got = {r[HANDLE]: r.score for r in s.read().collect()}
    assert got[3] == Decimal("7.25") and got[4] is None
    assert got[1] == Decimal("7.25")
    # compaction materializes; semantics unchanged after
    s.compact(ts=3, num_segments=2)
    got2 = {r[HANDLE]: r.score for r in s.read().collect()}
    assert got2 == got
    stable = spark.read.parquet(s.stable_path())
    raw = {r[HANDLE]: r.score for r in stable.select(HANDLE, "score").collect()}
    assert raw[1] == Decimal("7.25")  # baked into the file
    # drop removes the default with the column
    s.drop_column("score")
    assert "score" not in s.read().columns


def test_add_column_default_sql_form_and_rename_carries_default(spark, tmp_path):
    from tiflash_spark.sources.admin_sql import run_sql
    from tiflash_spark.sources.delta_store import HANDLE, DeltaStore

    s = DeltaStore(spark, str(tmp_path / "dflt2"))
    s.write_batch(
        spark.createDataFrame([(1, 10)], f"{HANDLE} long, a int"), version=1
    )
    r = run_sql(
        spark, "ALTER TABLE t ADD COLUMN tag string NULL DEFAULT 'none'", {"t": s}
    ).collect()[0]
    assert r.op == "add"
    assert s.read().filter("tag = 'none'").count() == 1
    s.rename_column("tag", "label")
    got = s.read().select("label").first()
    assert got.label == "none"
    s.write_batch(
        spark.createDataFrame([(2, 20)], f"{HANDLE} long, a int"), version=2
    )
    vals = {r[HANDLE]: r.label for r in s.read().collect()}
    assert vals == {1: "none", 2: "none"}


def test_update_default_value_leaves_old_rows(spark, tmp_path):
    """Port of ddl/alter_default_value_update.test: updating a default
    changes only future omitted-column writes; existing rows keep the
    ADD-time fill."""
    from tiflash_spark.sources.delta_store import HANDLE, DeltaStore

    s = DeltaStore(spark, str(tmp_path / "dflt3"))
    s.write_batch(
        spark.createDataFrame([(1, 1), (2, 2)], f"{HANDLE} long, i int"),
        version=1,
    )
    s.add_column("i2", "int", default="33")
    assert {r[HANDLE]: r.i2 for r in s.read().collect()} == {1: 33, 2: 33}
    s.set_column_default("i2", "3344")
    # old rows unchanged (the golden table in the reference test)
    assert {r[HANDLE]: r.i2 for r in s.read().collect()} == {1: 33, 2: 33}
    s.write_batch(
        spark.createDataFrame([(3, 3)], f"{HANDLE} long, i int"), version=2
    )
    got = {r[HANDLE]: r.i2 for r in s.read().collect()}
    assert got == {1: 33, 2: 33, 3: 3344}
    # survives compaction
    s.compact(ts=2)
    assert {r[HANDLE]: r.i2 for r in s.read().collect()} == got
    # installing a default on a never-defaulted column is write-side
    # only (MySQL SET DEFAULT): stored values never change, future
    # omitted writes materialize it
    s.set_column_default("i", "9")
    assert {r[HANDLE]: r.i for r in s.read().collect()} == {1: 1, 2: 2, 3: 3}
    s.write_batch(
        spark.createDataFrame([(4, 4)], f"{HANDLE} long, i2 int"), version=3
    )
    assert {r[HANDLE]: r.i for r in s.read().collect()}[4] == 9
    # and CHANGE-without-DEFAULT drops it again: omitted writes store NULL
    s.set_column_default("i", None)
    s.write_batch(
        spark.createDataFrame([(5, 5)], f"{HANDLE} long, i2 int"), version=4
    )
    assert {r[HANDLE]: r.i for r in s.read().collect()}[5] is None


def test_default_fill_across_incremental_compaction(spark, tmp_path):
    """Defaults survive per-segment incremental compaction: rewritten
    (dirty) segments materialize the fill, cold segments keep the
    read-time gate — both read identically."""
    from tiflash_spark.sources.delta_store import HANDLE, DeltaStore

    s = DeltaStore(spark, str(tmp_path / "dflt4"))
    s.write_batch(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(10)], f"{HANDLE} long, v string"
        ),
        version=1,
    )
    s.compact_range_segments(ts=1, num_segments=3)
    s.add_column("flag", "int", default="5")
    # dirty exactly one segment
    s.write_batch(
        spark.createDataFrame([(0, "upd")], f"{HANDLE} long, v string"), version=2
    )
    rewritten, total = s.compact_segments_incremental(ts=2)
    assert 0 < rewritten < total
    got = {r[HANDLE]: r.flag for r in s.read().collect()}
    assert got == {i: 5 for i in range(10)}
    # explicit NULL after the DDL still wins over the default everywhere
    s.write_batch(
        spark.createDataFrame([(7, "x", None)], f"{HANDLE} long, v string, flag int"),
        version=3,
    )
    got = {r[HANDLE]: r.flag for r in s.read().collect()}
    assert got[7] is None and got[3] == 5


def test_nullable_ddl_enforcement(spark, tmp_path):
    """Port of ddl/alter_column_nullable.test semantics: NOT NULL is
    metadata (existing data validated at the DDL); writes carrying NULL
    into a NOT NULL column are rejected; dropping back to nullable
    re-admits NULLs; omitted NOT NULL columns fill their default."""
    import pytest as _pt

    from tiflash_spark.sources.admin_sql import run_sql
    from tiflash_spark.sources.delta_store import HANDLE, DeltaStore

    s = DeltaStore(spark, str(tmp_path / "nn1"))
    s.write_batch(
        spark.createDataFrame(
            [(1, 1, 1), (2, 2, 2), (3, None, 3)], f"{HANDLE} long, id1 int, id2 int"
        ),
        version=1,
    )
    # id1 holds NULL -> NOT NULL rejected; id2 clean -> accepted
    with _pt.raises(ValueError, match="existing rows hold NULL"):
        s.set_column_nullable("id1", False)
    run_sql(spark, "ALTER TABLE t MODIFY COLUMN id2 int NOT NULL", {"t": s})
    with _pt.raises(ValueError, match="NOT NULL"):
        s.write_batch(
            spark.createDataFrame(
                [(4, 4, None)], f"{HANDLE} long, id1 int, id2 int"
            ),
            version=2,
        )
    # back to nullable: the same write succeeds
    run_sql(spark, "ALTER TABLE t MODIFY COLUMN id2 int NULL", {"t": s})
    s.write_batch(
        spark.createDataFrame([(4, 4, None)], f"{HANDLE} long, id1 int, id2 int"),
        version=3,
    )
    from pyspark.sql import functions as F2

    assert s.read().filter(F2.col("id2").isNull()).count() == 1
    # NOT NULL + default: omitted column materializes the default
    s.add_column("id3", "int", default="88")
    s.set_column_nullable("id3", False)
    s.write_batch(
        spark.createDataFrame([(5, 5, 5)], f"{HANDLE} long, id1 int, id2 int"),
        version=4,
    )
    assert {r[HANDLE]: r.id3 for r in s.read().collect()}[5] == 88


def test_default_type_matrix(spark, tmp_path):
    """Defaults across the type surface (ports the shape of
    alter_decimal/datetime/binary_default_value.test): every default is
    stored as literal text and cast through the column type at fill."""
    import datetime as dt
    from decimal import Decimal

    from tiflash_spark.sources.delta_store import HANDLE, DeltaStore

    s = DeltaStore(spark, str(tmp_path / "dfltm"))
    s.write_batch(
        spark.createDataFrame([(1, "seed")], f"{HANDLE} long, v string"),
        version=1,
    )
    cases = [
        ("c_int", "int", "42", 42),
        ("c_big", "bigint", "9999999999", 9999999999),
        ("c_dec", "decimal(38,9)", "99999999.999999999",
         Decimal("99999999.999999999")),
        ("c_dec0", "decimal(9,9)", ".999999999", Decimal("0.999999999")),
        ("c_str", "string", "hello", "hello"),
        ("c_date", "date", "2020-02-29", dt.date(2020, 2, 29)),
        ("c_ts", "timestamp", "2020-01-01 10:00:00",
         dt.datetime(2020, 1, 1, 10, 0, 0)),
        ("c_f", "double", "1.5", 1.5),
        ("c_bit", "long", "255", 255),  # BIT(n) surfaces as UInt64/long
    ]
    for name, ty, d, _ in cases:
        s.add_column(name, ty, default=d)
    row = s.read().first()
    for name, _, _, want in cases:
        assert row[name] == want, (name, row[name], want)
    # survives compaction (materialized) and a fresh write (write default)
    s.compact(ts=1)
    s.write_batch(
        spark.createDataFrame([(2, "w2")], f"{HANDLE} long, v string"), version=2
    )
    for r in s.read().collect():
        for name, _, _, want in cases:
            assert r[name] == want, (r[HANDLE], name)
