"""Explicit-schema catalog over the driver's parquet tables.

The reference never infers schemas — TableInfo/ColumnInfo are pushed from
TiDB's catalog and kept in sync by a schema syncer
(reference: dbms/src/TiDB/Schema/TiDB.h:107, SchemaBuilder.cpp; SURVEY.md
§1.3). We mirror that: every table the engine serves has a declared
StructType here, reads validate against it, and nothing ever calls
``inferSchema``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from tiflash_spark.cache import read_parquet_memo

# Declared schemas for the driver-generated tables (TESTDATA.md).
# Parquet supplies physical types; these are the engine-surface types we
# assert on (SURVEY.md §1.2 mapping).
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLES = tuple(SCHEMAS)

# Constant-size dimension tables (O(1) rows regardless of scale factor)
# that are always safe to F.broadcast(). customer/supplier/part grow
# linearly with sf — a forced broadcast hint bypasses
# autoBroadcastJoinThreshold and becomes a guaranteed OOM at 100 TB, so
# those are left to AQE to pick broadcast-vs-shuffle from runtime sizes.
BROADCAST_TABLES = frozenset({"region", "nation"})


def ensure_engine_confs(spark: SparkSession) -> None:
    """Runtime confs the engine's MySQL/TiDB semantics depend on, set here
    because callers (the driver) may hand us a default-config session:
    Spark 4 defaults to ANSI mode, but the reference's semantics are
    error-as-NULL (tidb_cast / tidbDivide — SURVEY.md §2.4). Set once per
    session object — load_table runs on every query build, and each
    conf.set is a py4j round-trip."""
    if getattr(spark, "_tiflash_confs_set", False):
        return
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark._tiflash_confs_set = True


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table; column pruning/predicate pushdown reach the scan."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; catalog has {sorted(SCHEMAS)}")
    ensure_engine_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # ts has shipped as TIMESTAMP(NANOS) (read as long under the legacy
        # conf, ns → µs conversion needed) and as plain TIMESTAMP(MICROS)
        # (read as timestamp/timestamp_ntz natively) in different testdata
        # generations — normalize whatever we got to session-TZ TimestampType.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet_memo(spark, path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # nanos-as-long layout: exact, data is µs-precision
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if isinstance(ts_type, T.TimestampNTZType):
            # wall-clock µs layout: reinterpret as UTC (session TZ is UTC)
            return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        return df
    return read_parquet_memo(spark, path)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def open_catalog(spark: SparkSession, sf_dir: str) -> None:
    """One call makes the session SQL-complete for a reference user:
    every table registered as a temp view (including the synthesized
    partsupp), plus the MySQL-named SQL function surface — after this,
    queries can be written purely through ``spark.sql`` with MySQL-ish
    function names, the way the reference is driven through TiDB."""
    from tiflash_spark.functions.sql_registry import register_mysql_functions

    register_views(spark, sf_dir)
    synth_partsupp(spark, sf_dir).createOrReplaceTempView("partsupp")
    register_mysql_functions(spark)


def validate_schema(df: DataFrame, name: str) -> None:
    """Assert a loaded table matches the declared catalog schema by name/type."""
    declared = {f.name: f.dataType.simpleString() for f in SCHEMAS[name].fields}
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    missing = set(declared) - set(actual)
    if missing:
        raise ValueError(f"table {name}: missing columns {sorted(missing)}")


def synth_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic partsupp synthesis — testdata has no partsupp table,
    but the reference's canonical perf workload is full TPC-H
    (release-linux-llvm/scripts/perf-autofdo-llvm.py:196-199), whose Q2/Q11
    shapes need it. Part k gets 4 suppliers at (k*4 + i) mod S — like
    dbgen's stride assignment this spreads parts across suppliers, but the
    consecutive-offset form is collision-free BY CONSTRUCTION for S >= 4,
    so no dedup shuffle is needed (dbgen's stride formula collides at
    small S and would force a distinct() — a full-width exchange that the
    Q2/Q11 plans would each pay twice). availqty/supplycost are hash-like
    functions of (partkey, suppkey), reproducible in any engine.

    Scale note: this is a narrow projection of part × a 4-element explode —
    O(|part|) rows, ZERO shuffles; the supplier count is a broadcast scalar.
    """
    from pyspark.sql import functions as F

    p = load_table(spark, sf_dir, "part").select("p_partkey")
    s_cnt = load_table(spark, sf_dir, "supplier").agg(F.count(F.lit(1)).alias("_s_n"))
    exploded = (
        p.crossJoin(F.broadcast(s_cnt))
        .select(
            "p_partkey",
            "_s_n",
            F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("_i"),
        )
    )
    suppkey = (F.col("p_partkey") * 4 + F.col("_i")) % F.col("_s_n") + 1
    return (
        exploded.select(
            F.col("p_partkey").alias("ps_partkey"),
            suppkey.cast("long").alias("ps_suppkey"),
        )
        .select(
            "ps_partkey",
            "ps_suppkey",
            ((F.col("ps_partkey") * 13 + F.col("ps_suppkey") * 17) % 9999 + 1)
            .cast("long")
            .alias("ps_availqty"),
            F.round(
                ((F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 7) % 10000).cast(
                    "double"
                )
                / 100.0
                + 1.0,
                2,
            ).alias("ps_supplycost"),
        )
    )


# The same derivation as a DuckDB CTE fragment, for oracle queries:
# prepend and reference `partsupp` (expects views part/supplier).
PARTSUPP_SQL_CTE = """
_s AS (SELECT COUNT(*) AS s_n FROM supplier),
_ps0 AS (
  SELECT p_partkey AS ps_partkey,
         CAST((p_partkey * 4 + i.i) % s_n + 1 AS BIGINT) AS ps_suppkey
  FROM part, _s, (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS i) i
),
partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         CAST((ps_partkey * 13 + ps_suppkey * 17) % 9999 + 1 AS BIGINT) AS ps_availqty,
         ROUND(CAST((ps_partkey * 31 + ps_suppkey * 7) % 10000 AS DOUBLE) / 100.0 + 1.0, 2)
           AS ps_supplycost
  FROM _ps0
)
""".strip()
