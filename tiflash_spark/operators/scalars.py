"""Scalar-function surface queries — SURVEY.md §2.4's categories end-to-end.

The reference accepts 560 tipb::ScalarFuncSig signatures
(dbms/src/Flash/Coprocessor/DAGUtils.cpp:92-759) over ~170 vectorized
functions. These queries exercise each category (string, math, date/time,
control flow, comparison, JSON, cast) as whole-stage-codegen Column
expressions over the driver tables, each hash-checked against DuckDB.

Functions with no DuckDB equivalent (conv to arbitrary bases, crc32,
strcmp, MySQL format tokens) are covered by unit tests in
tests/test_functions.py instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiflash_spark.catalog import load_table


def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String category (DAGUtils.cpp:624-718): length, char_length, concat,
    concat_ws, lower/upper, trim family, lpad/rpad, substring,
    substring_index, instr/position, left/right, ascii, hex, repeat,
    reverse, replace — reference impls in dbms/src/Functions/FunctionsString.cpp."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    return p.select(
        "p_partkey",
        F.length("p_name").alias("len"),
        F.char_length("p_type").alias("clen"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("cat"),
        F.concat_ws("|", "p_brand", "p_type").alias("cat_ws"),
        F.lower("p_name").alias("lo"),
        F.upper("p_brand").alias("up"),
        F.trim(F.lit("  pad  ")).alias("tr"),
        F.ltrim(F.lit("  pad")).alias("ltr"),
        F.rtrim(F.lit("pad  ")).alias("rtr"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("lpadded"),
        F.rpad("p_brand", 12, "*").alias("rpadded"),
        F.substring("p_name", 2, 5).alias("sub"),
        F.substring_index("p_type", " ", 2).alias("subidx"),
        F.instr("p_name", "a").alias("pos_a"),
        F.substring("p_name", 1, 3).alias("left3"),
        F.substring("p_name", -3, 3).alias("right3"),
        F.ascii("p_brand").alias("asc"),
        F.upper(F.hex(F.col("p_size"))).alias("hx"),
        F.repeat(F.lit("ab"), 3).alias("rep"),
        F.reverse("p_brand").alias("rev"),
        F.regexp_replace("p_name", "a", "@").alias("repl"),
    )


STRING_FUNCTIONS_SQL = """
SELECT
  p_partkey,
  LENGTH(p_name) AS len,
  LENGTH(p_type) AS clen,
  p_brand || '#' || p_type AS cat,
  CONCAT_WS('|', p_brand, p_type) AS cat_ws,
  LOWER(p_name) AS lo,
  UPPER(p_brand) AS up,
  TRIM('  pad  ') AS tr,
  LTRIM('  pad') AS ltr,
  RTRIM('pad  ') AS rtr,
  LPAD(CAST(p_size AS VARCHAR), 4, '0') AS lpadded,
  RPAD(p_brand, 12, '*') AS rpadded,
  SUBSTRING(p_name, 2, 5) AS sub,
  ARRAY_TO_STRING(LIST_SLICE(STRING_SPLIT(p_type, ' '), 1, 2), ' ') AS subidx,
  INSTR(p_name, 'a') AS pos_a,
  LEFT(p_name, 3) AS left3,
  RIGHT(p_name, 3) AS right3,
  ASCII(p_brand) AS asc,
  UPPER(HEX(p_size)) AS hx,
  REPEAT('ab', 3) AS rep,
  REVERSE(p_brand) AS rev,
  REGEXP_REPLACE(p_name, 'a', '@', 'g') AS repl
FROM part
WHERE p_partkey <= 200
"""


def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math category (DAGUtils.cpp:275-380): abs/ceil/floor/round/sqrt/pow/
    ln/log2/log10/exp/sin/cos/tan/atan/sign/radians/degrees — reference
    dbms/src/Functions/FunctionsMath.cpp, FunctionsRound.cpp."""
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    x = F.col("l_extendedprice")
    d = F.col("l_discount") - 0.05  # mixed-sign values
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(d), 4).alias("abs_d"),
        F.ceil(x).cast("long").alias("ceil_x"),
        F.floor(x).cast("long").alias("floor_x"),
        F.round(x, 1).alias("round_1"),
        F.round(F.sqrt(x), 6).alias("sqrt_x"),
        F.round(F.pow(F.col("l_quantity"), 2), 4).alias("qty_sq"),
        F.round(F.log(x), 6).alias("ln_x"),
        F.round(F.log2(x), 6).alias("log2_x"),
        F.round(F.log10(x), 6).alias("log10_x"),
        F.round(F.exp(F.col("l_discount")), 6).alias("exp_d"),
        F.round(F.sin(F.col("l_tax")), 6).alias("sin_t"),
        F.round(F.cos(F.col("l_tax")), 6).alias("cos_t"),
        F.round(F.tan(F.col("l_tax")), 6).alias("tan_t"),
        F.round(F.atan(F.col("l_tax")), 6).alias("atan_t"),
        F.signum(d).cast("int").alias("sign_d"),
        F.round(F.radians(F.col("l_quantity")), 6).alias("rad_q"),
        F.round(F.degrees(F.col("l_tax")), 6).alias("deg_t"),
        (F.col("l_quantity").cast("long") % 7).alias("mod7"),
    )


MATH_FUNCTIONS_SQL = """
SELECT
  l_orderkey,
  l_linenumber,
  ROUND(ABS(l_discount - 0.05), 4) AS abs_d,
  CAST(CEIL(l_extendedprice) AS BIGINT) AS ceil_x,
  CAST(FLOOR(l_extendedprice) AS BIGINT) AS floor_x,
  ROUND(l_extendedprice, 1) AS round_1,
  ROUND(SQRT(l_extendedprice), 6) AS sqrt_x,
  ROUND(POW(l_quantity, 2), 4) AS qty_sq,
  ROUND(LN(l_extendedprice), 6) AS ln_x,
  ROUND(LOG2(l_extendedprice), 6) AS log2_x,
  ROUND(LOG10(l_extendedprice), 6) AS log10_x,
  ROUND(EXP(l_discount), 6) AS exp_d,
  ROUND(SIN(l_tax), 6) AS sin_t,
  ROUND(COS(l_tax), 6) AS cos_t,
  ROUND(TAN(l_tax), 6) AS tan_t,
  ROUND(ATAN(l_tax), 6) AS atan_t,
  CAST(SIGN(l_discount - 0.05) AS INT) AS sign_d,
  ROUND(RADIANS(l_quantity), 6) AS rad_q,
  ROUND(DEGREES(l_tax), 6) AS deg_t,
  CAST(l_quantity AS BIGINT) % 7 AS mod7
FROM lineitem
WHERE l_orderkey <= 100
"""


def datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time category (DAGUtils.cpp:499-623): extract fns, date_add/sub,
    datediff, last_day, weekofyear, date_format (MySQL %-tokens translated
    by functions.mysql_compat), unix_timestamp/from_unixtime — reference
    dbms/src/Functions/FunctionsDateTime.cpp (MyDateTime calendar)."""
    from tiflash_spark.functions.mysql_compat import mysql_date_format

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 400)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.quarter(d).alias("qtr"),
        F.month(d).alias("mon"),
        F.dayofmonth(d).alias("dom"),
        F.dayofweek(d).alias("dow"),  # 1=Sunday, matches MySQL DAYOFWEEK
        F.dayofyear(d).alias("doy"),
        F.weekofyear(d).alias("woy"),  # ISO week, matches MySQL WEEK(d,3)
        # date-typed results are surfaced as timestamps: Spark's DateType and
        # DuckDB's DATE deserialize differently in pandas (date vs datetime64),
        # which would false-fail the driver's value hash.
        F.date_add(d.cast("date"), 30).cast("timestamp").alias("plus30"),
        F.date_sub(d.cast("date"), 7).cast("timestamp").alias("minus7"),
        F.datediff(F.lit("1998-12-31").cast("date"), d.cast("date")).alias("days_to_98"),
        F.last_day(d).cast("timestamp").alias("eom"),
        F.date_trunc("month", d).alias("month_start"),
        mysql_date_format(d, "%Y-%m-%d").alias("fmt_ymd"),
        mysql_date_format(d, "%d/%m/%Y").alias("fmt_dmy"),
        F.unix_timestamp(d).alias("epoch_s"),
        F.timestamp_seconds(F.unix_timestamp(d)).alias("roundtrip_ts"),
        F.add_months(d.cast("date"), 2).cast("timestamp").alias("plus2mo"),
        F.greatest(d.cast("date"), F.lit("1996-01-01").cast("date"))
        .cast("timestamp")
        .alias("gdate"),
    )


DATETIME_FUNCTIONS_SQL = """
SELECT
  o_orderkey,
  YEAR(o_orderdate) AS yr,
  QUARTER(o_orderdate) AS qtr,
  MONTH(o_orderdate) AS mon,
  DAYOFMONTH(o_orderdate) AS dom,
  DAYOFWEEK(o_orderdate) + 1 AS dow,
  DAYOFYEAR(o_orderdate) AS doy,
  WEEKOFYEAR(o_orderdate) AS woy,
  CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS TIMESTAMP) AS plus30,
  CAST(CAST(o_orderdate AS DATE) - INTERVAL 7 DAY AS TIMESTAMP) AS minus7,
  DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_98,
  CAST(LAST_DAY(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS eom,
  CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
  STRFTIME(o_orderdate, '%Y-%m-%d') AS fmt_ymd,
  STRFTIME(o_orderdate, '%d/%m/%Y') AS fmt_dmy,
  CAST(EPOCH(o_orderdate) AS BIGINT) AS epoch_s,
  TO_TIMESTAMP(EPOCH(o_orderdate)) AT TIME ZONE 'UTC' AS roundtrip_ts,
  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS TIMESTAMP) AS plus2mo,
  CAST(GREATEST(CAST(o_orderdate AS DATE), DATE '1996-01-01') AS TIMESTAMP) AS gdate
FROM orders
WHERE o_orderkey <= 400
"""


def control_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Control flow + comparison (DAGUtils.cpp:152-239,381-423): CASE WHEN,
    IF, IFNULL, NULLIF, COALESCE, IN, BETWEEN, LIKE, null-safe equal —
    reference FunctionsConditional.cpp / FunctionsNull.cpp / tidbIn."""
    from tiflash_spark.functions.mysql_compat import mysql_if, mysql_ifnull

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    price = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.when(price > 300000, "high")
        .when(price > 100000, "mid")
        .otherwise("low")
        .alias("bucket"),
        mysql_if(F.col("o_orderstatus") == "F", F.lit(1), F.lit(0)).alias("is_f"),
        mysql_ifnull(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")).alias(
            "status_or_open"
        ),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("is_rush"),
        price.between(50000, 150000).alias("mid_band"),
        F.col("o_orderpriority").like("%URGENT").alias("like_urgent"),
        F.col("o_orderstatus").eqNullSafe(F.lit("P")).alias("nse_p"),
        F.greatest(price, F.lit(100000.0)).alias("floor100k"),
        F.least(price, F.lit(400000.0)).alias("cap400k"),
    )


CONTROL_FLOW_SQL = """
SELECT
  o_orderkey,
  CASE WHEN o_totalprice > 300000 THEN 'high'
       WHEN o_totalprice > 100000 THEN 'mid'
       ELSE 'low' END AS bucket,
  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_f,
  IFNULL(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open,
  o_orderpriority IN ('1-URGENT', '2-HIGH') AS is_rush,
  o_totalprice BETWEEN 50000 AND 150000 AS mid_band,
  o_orderpriority LIKE '%URGENT' AS like_urgent,
  o_orderstatus IS NOT DISTINCT FROM 'P' AS nse_p,
  GREATEST(o_totalprice, 100000.0) AS floor100k,
  LEAST(o_totalprice, 400000.0) AS cap400k
FROM orders
WHERE o_orderkey <= 1000
"""


def json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON category (DAGUtils.cpp:471-498): extract / unquote / valid /
    length — reference dbms/src/Functions/FunctionsJson.cpp; MySQL path
    syntax `$.k` is shared with Spark's get_json_object."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
        (F.get_json_object("props", "$.k").isNotNull()).alias("has_k"),
        F.get_json_object("props", "$.missing").alias("missing_val"),
        F.json_array_length(F.concat(F.lit("[1,2,"), F.get_json_object("props", "$.k"), F.lit("]"))).alias("arr_len"),
        F.to_json(F.struct(F.col("event_type").alias("t"))).alias("built_json"),
    )


JSON_FUNCTIONS_SQL = """
SELECT
  event_id,
  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
  json_extract_string(props, '$.k') IS NOT NULL AS has_k,
  json_extract_string(props, '$.missing') AS missing_val,
  json_array_length('[1,2,' || json_extract_string(props, '$.k') || ']') AS arr_len,
  '{"t":"' || event_type || '"}' AS built_json
FROM events
WHERE event_id < 2000
"""


def cast_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast category (DAGUtils.cpp:92-151) — reference tidb_cast
    (FunctionsTiDBConversion.cpp): numeric widening/narrowing, string
    round-trips, string→number soft parse (NULL on garbage, MySQL-style
    under non-ANSI Spark), timestamp↔date↔string."""
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 200)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("int").alias("qty_i"),
        F.col("l_quantity").cast("string").alias("qty_s"),
        # decimal cast exercised, surfaced as double (pandas turns DuckDB
        # DECIMAL into float, Spark keeps Decimal — hash would false-fail)
        F.col("l_extendedprice").cast("decimal(18,2)").cast("double").alias("price_dec"),
        F.col("l_linenumber").cast("double").alias("ln_d"),
        F.concat(F.col("l_orderkey").cast("string"), F.lit("x"))
        .try_cast("long")
        .alias("bad_parse"),
        F.col("l_shipdate").cast("date").cast("timestamp").alias("ship_d"),
        F.col("l_shipdate").cast("date").cast("string").alias("ship_s"),
        F.lit("123.45").cast("double").alias("str_num"),
        F.lit("1996-06-15").cast("date").cast("timestamp").alias("str_date"),
    )


CAST_FUNCTIONS_SQL = """
SELECT
  l_orderkey,
  l_linenumber,
  CAST(l_quantity AS INT) AS qty_i,
  CAST(CAST(l_quantity AS DECIMAL(15,1)) AS VARCHAR) AS qty_s,
  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec,
  CAST(l_linenumber AS DOUBLE) AS ln_d,
  TRY_CAST(CAST(l_orderkey AS VARCHAR) || 'x' AS BIGINT) AS bad_parse,
  CAST(CAST(l_shipdate AS DATE) AS TIMESTAMP) AS ship_d,
  CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_s,
  CAST('123.45' AS DOUBLE) AS str_num,
  CAST(DATE '1996-06-15' AS TIMESTAMP) AS str_date
FROM lineitem
WHERE l_orderkey <= 200
"""


QUERIES = {
    "string_functions": string_functions,
    "math_functions": math_functions,
    "datetime_functions": datetime_functions,
    "control_flow": control_flow,
    "json_functions": json_functions,
    "cast_functions": cast_functions,
}

ORACLE = {
    "string_functions": STRING_FUNCTIONS_SQL,
    "math_functions": MATH_FUNCTIONS_SQL,
    "datetime_functions": DATETIME_FUNCTIONS_SQL,
    "control_flow": CONTROL_FLOW_SQL,
    "json_functions": JSON_FUNCTIONS_SQL,
    "cast_functions": CAST_FUNCTIONS_SQL,
}


def regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Like/Regexp category (DAGUtils.cpp:463-469): LIKE with escape, ILIKE,
    REGEXP/RLIKE, regexp_instr/substr/replace/extract — reference
    dbms/src/Functions/FunctionsRegexpLike.cpp etc. Patterns restricted to
    the Java∩RE2 common dialect so the DuckDB oracle is exact."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    return p.select(
        "p_partkey",
        F.col("p_name").like("%a%").alias("like_a"),
        F.col("p_name").ilike("%A%").alias("ilike_a"),
        F.col("p_name").rlike("^[a-m]").alias("rx_start"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_type", "[AEIOU]", "_").alias("devoweled"),
        F.regexp_count("p_name", F.lit("a")).alias("n_a"),
        F.regexp_instr("p_name", F.lit("[0-9]")).alias("digit_pos"),
        F.split("p_name", " ").getItem(0).alias("head_token"),
        F.regexp_like("p_brand", F.lit("Brand#[0-9]+")).alias("brand_ok"),
    )


REGEXP_FUNCTIONS_SQL = """
SELECT
  p_partkey,
  p_name LIKE '%a%' AS like_a,
  p_name ILIKE '%A%' AS ilike_a,
  regexp_matches(p_name, '^[a-m]') AS rx_start,
  regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
  regexp_replace(p_type, '[AEIOU]', '_', 'g') AS devoweled,
  LEN(regexp_extract_all(p_name, 'a')) AS n_a,
  CASE WHEN regexp_matches(p_name, '[0-9]')
       THEN INSTR(p_name, regexp_extract(p_name, '[0-9]')) ELSE 0 END AS digit_pos,
  STRING_SPLIT(p_name, ' ')[1] AS head_token,
  regexp_matches(p_brand, 'Brand#[0-9]+') AS brand_ok
FROM part
WHERE p_partkey <= 300
"""

QUERIES["regexp_functions"] = regexp_functions
ORACLE["regexp_functions"] = REGEXP_FUNCTIONS_SQL


def misc_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IP/duration/bit misc surface (DAGUtils IP/misc row; reference
    FunctionsCoding.cpp, FunctionsIsIPAddr.cpp, DataTypeMyDuration.h) over
    values synthesized deterministically from customer keys."""
    from tiflash_spark.functions.misc import (
        export_set,
        inet_aton,
        inet_ntoa,
        is_ipv4,
        sec_to_time_str,
        time_to_sec,
    )

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    ipnum = (F.col("c_custkey") * 7919 + 12345) % 4294967296
    dur_ns = (F.col("c_custkey") % 100000) * F.lit(1_000_000_000)
    return c.select(
        "c_custkey",
        inet_ntoa(ipnum).alias("ip"),
        is_ipv4(inet_ntoa(ipnum)).alias("ip_ok"),
        inet_aton(inet_ntoa(ipnum)).alias("ip_roundtrip"),
        time_to_sec(dur_ns).alias("dur_s"),
        sec_to_time_str(time_to_sec(dur_ns)).alias("dur_str"),
        export_set(F.col("c_custkey"), "1", "0", ",", 8).alias("bits"),
    )


MISC_FUNCTIONS_SQL = """
WITH base AS (
  SELECT c_custkey,
         (c_custkey * 7919 + 12345) % 4294967296 AS ipnum,
         c_custkey % 100000 AS dur_s
  FROM customer WHERE c_custkey <= 500
)
SELECT
  c_custkey,
  CAST(ipnum // 16777216 % 256 AS VARCHAR) || '.' ||
  CAST(ipnum // 65536 % 256 AS VARCHAR) || '.' ||
  CAST(ipnum // 256 % 256 AS VARCHAR) || '.' ||
  CAST(ipnum % 256 AS VARCHAR) AS ip,
  TRUE AS ip_ok,
  ipnum AS ip_roundtrip,
  dur_s,
  LPAD(CAST(dur_s // 3600 AS VARCHAR), 2, '0') || ':' ||
  LPAD(CAST(dur_s % 3600 // 60 AS VARCHAR), 2, '0') || ':' ||
  LPAD(CAST(dur_s % 60 AS VARCHAR), 2, '0') AS dur_str,
  CONCAT_WS(',',
    CASE WHEN c_custkey // 1 % 2 = 1 THEN '1' ELSE '0' END,
    CASE WHEN c_custkey // 2 % 2 = 1 THEN '1' ELSE '0' END,
    CASE WHEN c_custkey // 4 % 2 = 1 THEN '1' ELSE '0' END,
    CASE WHEN c_custkey // 8 % 2 = 1 THEN '1' ELSE '0' END,
    CASE WHEN c_custkey // 16 % 2 = 1 THEN '1' ELSE '0' END,
    CASE WHEN c_custkey // 32 % 2 = 1 THEN '1' ELSE '0' END,
    CASE WHEN c_custkey // 64 % 2 = 1 THEN '1' ELSE '0' END,
    CASE WHEN c_custkey // 128 % 2 = 1 THEN '1' ELSE '0' END) AS bits
FROM base
"""

QUERIES["misc_functions"] = misc_functions
ORACLE["misc_functions"] = MISC_FUNCTIONS_SQL


def collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (SURVEY.md §1.4): UTF8MB4_GENERAL_CI-style
    case-insensitive grouping via collation keys (functions/collation.py),
    over mixed-case strings synthesized from p_type."""
    from tiflash_spark.functions.collation import GENERAL_CI, collation_key

    p = load_table(spark, sf_dir, "part")
    mixed = F.when(F.col("p_partkey") % 2 == 0, F.lower("p_type")).otherwise(
        F.concat(F.col("p_type"), F.lit("  "))
    )
    return (
        # strict=False: this query EXPOSES the key as a value, and only
        # the lenient lower(rtrim) key has a deterministic rendering the
        # SQL oracle can reproduce (the strict ICU key — the engine
        # default since round 9 — carries the collation in the TYPE, its
        # value stays the raw string). ASCII data: identical groups.
        p.select(collation_key(mixed, GENERAL_CI, strict=False)
                 .alias("type_ci"))
        .groupBy("type_ci")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("type_ci")
    )


COLLATION_GROUP_SQL = """
SELECT LOWER(RTRIM(CASE WHEN p_partkey % 2 = 0 THEN LOWER(p_type)
                        ELSE p_type || '  ' END)) AS type_ci,
       COUNT(*) AS n
FROM part
GROUP BY 1
ORDER BY type_ci
"""

QUERIES["collation_group"] = collation_group
ORACLE["collation_group"] = COLLATION_GROUP_SQL


def collation_aliases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-collation surface (reference Collator.h:28-60 enum): distinct
    key counts under each collation over strings with trailing-space, case
    and accent variants — pinning the pad/weight differences (PadSpace bin
    family vs NoPad 0900_bin; PadSpace unicode_ci vs NoPad 0900_ai_ci)."""
    from tiflash_spark.functions import collation as coll

    p = load_table(spark, sf_dir, "part")
    s = (
        F.when(F.col("p_partkey") % 3 == 0, F.concat(F.upper("p_type"), F.lit("  ")))
        .when(F.col("p_partkey") % 3 == 1, F.replace("p_type", F.lit("a"), F.lit("á")))
        .otherwise(F.lower("p_type"))
    )
    return p.select(s.alias("s")).agg(
        F.countDistinct(coll.collation_key(F.col("s"), coll.BINARY)).alias("n_binary"),
        F.countDistinct(coll.collation_key(F.col("s"), coll.BIN)).alias("n_bin"),
        F.countDistinct(coll.collation_key(F.col("s"), coll.ASCII_BIN)).alias("n_ascii_bin"),
        F.countDistinct(coll.collation_key(F.col("s"), coll.LATIN1_BIN)).alias("n_latin1_bin"),
        F.countDistinct(coll.collation_key(F.col("s"), coll.BIN_0900)).alias("n_0900_bin"),
        F.countDistinct(coll.collation_key(F.col("s"), coll.AI_CI_0900)).alias("n_0900_ai_ci"),
        F.countDistinct(coll.collation_key(F.col("s"), coll.UNICODE_CI)).alias("n_unicode_ci"),
    )


COLLATION_ALIASES_SQL = """
WITH b AS (
  SELECT CASE WHEN p_partkey % 3 = 0 THEN UPPER(p_type) || '  '
              WHEN p_partkey % 3 = 1 THEN REPLACE(p_type, 'a', 'á')
              ELSE LOWER(p_type) END AS s
  FROM part
)
SELECT CAST(COUNT(DISTINCT s) AS BIGINT) AS n_binary,
       CAST(COUNT(DISTINCT RTRIM(s)) AS BIGINT) AS n_bin,
       CAST(COUNT(DISTINCT RTRIM(s)) AS BIGINT) AS n_ascii_bin,
       CAST(COUNT(DISTINCT RTRIM(s)) AS BIGINT) AS n_latin1_bin,
       CAST(COUNT(DISTINCT s) AS BIGINT) AS n_0900_bin,
       CAST(COUNT(DISTINCT LOWER(STRIP_ACCENTS(s))) AS BIGINT) AS n_0900_ai_ci,
       CAST(COUNT(DISTINCT LOWER(STRIP_ACCENTS(RTRIM(s)))) AS BIGINT) AS n_unicode_ci
FROM b
"""

QUERIES["collation_aliases"] = collation_aliases
ORACLE["collation_aliases"] = COLLATION_ALIASES_SQL


def json_functions_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended JSON signature set (DAGUtils.cpp:471-498; FunctionsJson.cpp):
    depth / keys / length / contains_path / object / array / unquote.
    Depth runs over a constructed nested doc (props itself is flat) so the
    recursion rule — 1 + max member depth, empty containers depth 1 — is
    actually exercised."""
    from tiflash_spark.functions.json_fns import (
        json_array,
        json_contains_path,
        json_depth,
        json_keys,
        json_length_object,
        json_object,
        json_unquote,
        json_valid,
    )

    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    nested = F.concat(
        F.lit('{"outer":'), F.col("props"), F.lit(',"arr":[1,[2,3]],"empty":{}}')
    )
    k_val = F.get_json_object("props", "$.k").cast("long")
    return e.select(
        "event_id",
        json_depth(nested).alias("depth_nested"),
        json_depth("props").alias("depth_flat"),
        json_length_object("props").cast("long").alias("n_keys"),
        F.array_join(json_keys("props"), ",").alias("keys_csv"),
        json_contains_path("props", "$.k").alias("has_k"),
        json_contains_path("props", "$.missing").alias("has_missing"),
        json_object(("id", F.col("event_id")), ("ev", F.col("event_type"))).alias("obj"),
        json_array(F.col("event_id"), k_val).alias("arr"),
        json_unquote(F.concat(F.lit('"'), F.col("event_type"), F.lit('"'))).alias("unq"),
        json_valid("props").alias("valid_props"),
        json_valid(F.concat(F.col("props"), F.lit("}"))).alias("valid_broken"),
        json_valid(F.lit("123")).alias("valid_scalar"),
        json_valid(F.when(F.col("event_id") < 0, F.col("props"))).alias("valid_null"),
    )


def _json_ext_sql() -> str:
    from tiflash_spark.functions.json_fns import json_depth_sql

    nested = """('{"outer":' || props || ',"arr":[1,[2,3]],"empty":{}}')"""
    return f"""
SELECT
  event_id,
  CAST({json_depth_sql(nested)} AS INT) AS depth_nested,
  CAST({json_depth_sql("props")} AS INT) AS depth_flat,
  CAST(LEN(json_keys(props)) AS BIGINT) AS n_keys,
  ARRAY_TO_STRING(LIST_SORT(json_keys(props)), ',') AS keys_csv,
  json_extract_string(props, '$.k') IS NOT NULL AS has_k,
  json_extract_string(props, '$.missing') IS NOT NULL AS has_missing,
  CAST(json_object('id', event_id, 'ev', event_type) AS VARCHAR) AS obj,
  CAST(json_array(event_id, CAST(json_extract_string(props, '$.k') AS BIGINT)) AS VARCHAR) AS arr,
  event_type AS unq,
  json_valid(props) AS valid_props,
  json_valid(props || '}}') AS valid_broken,
  json_valid('123') AS valid_scalar,
  json_valid(CASE WHEN event_id < 0 THEN props END) AS valid_null
FROM events
WHERE event_id < 2000
"""


JSON_FUNCTIONS_EXTENDED_SQL = _json_ext_sql()

QUERIES["json_functions_extended"] = json_functions_extended
ORACLE["json_functions_extended"] = JSON_FUNCTIONS_EXTENDED_SQL


def collation_unicode_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF8MB4_UNICODE_CI grouping (Collator.h:28-60 UCACICollator): case-
    and accent-insensitive with PadSpace, via Spark 4's ICU UNICODE_CI_AI
    collation. Accent variants are synthesized deterministically from
    p_type (testdata is ASCII); the group representative is the binary-min
    member, so the output is engine-independent."""
    from tiflash_spark.functions.collation import UNICODE_CI, collation_key

    p = load_table(spark, sf_dir, "part")
    mixed = (
        F.when(F.col("p_partkey") % 3 == 0, F.upper("p_type"))
        .when(F.col("p_partkey") % 3 == 1, F.translate("p_type", "ae", "äé"))
        .otherwise(F.concat(F.col("p_type"), F.lit(" ")))
    )
    return (
        p.select(mixed.alias("t"))
        .groupBy(collation_key(F.col("t"), UNICODE_CI).alias("_k"))
        .agg(F.min("t").alias("rep"), F.count(F.lit(1)).alias("n"))
        .select(F.col("rep"), F.col("n"))
        .orderBy("rep")
    )


COLLATION_UNICODE_CI_SQL = """
SELECT MIN(t) AS rep, COUNT(*) AS n
FROM (
  SELECT CASE WHEN p_partkey % 3 = 0 THEN UPPER(p_type)
              WHEN p_partkey % 3 = 1 THEN REPLACE(REPLACE(p_type,'a','ä'),'e','é')
              ELSE p_type || ' ' END AS t
  FROM part
) s
GROUP BY LOWER(STRIP_ACCENTS(RTRIM(t)))
ORDER BY rep
"""

QUERIES["collation_unicode_ci"] = collation_unicode_ci
ORACLE["collation_unicode_ci"] = COLLATION_UNICODE_CI_SQL


def scalar_stragglers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live-surface stragglers from the reference scalar map (DAGUtils.cpp):
    tidbToDays/tidbFromDays/tidbToSeconds, microSecond, tidbTruncateWithFrac,
    xor, isTrue/isFalseWithNull, bitShiftLeft/bitShiftRight (unsigned 64-bit
    presentation), getFormat, extractMyDuration — each mirrored in DuckDB
    arithmetic so the whole family is value-hashed."""
    from tiflash_spark.functions.misc import (
        extract_duration,
        is_false,
        is_true,
        logical_xor,
        mysql_shiftleft,
        mysql_shiftright,
        mysql_truncate,
    )
    from tiflash_spark.functions.mysql_compat import (
        mysql_from_days,
        mysql_get_format,
        mysql_microsecond,
        mysql_to_days,
        mysql_to_seconds,
    )

    from tiflash_spark.cache import prepared

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 400)

    # the whole scalar battery is a CONSTANT expression list (each
    # mysql_* helper expands to a sizeable tree) — prepared() once per
    # JVM (guide §5 driver work)
    def _build_cols():
        d = F.col("o_orderdate")
        k = F.col("o_orderkey")
        # deterministic sub-second timestamp: date + per-key microseconds
        us = F.unix_micros(d.cast("timestamp")) + k * 123457 % 1000000
        synth_ts = F.timestamp_micros(us)
        locale = (
            F.when(k % 3 == 0, "ISO").when(k % 3 == 1, "USA").otherwise("NOPE")
        )
        dur_ns = (k * 37).cast("long") * 1_000_000_000
        return (
            mysql_to_days(d).alias("td"),
            mysql_from_days(mysql_to_days(d) - 100).cast("timestamp").alias("fd_ts"),
            mysql_to_seconds(synth_ts).alias("tsec"),
            mysql_microsecond(synth_ts).alias("micro"),
            F.round(mysql_truncate(F.col("o_totalprice"), 1), 1).alias("trunc1"),
            mysql_truncate(-F.col("o_totalprice"), -2).alias("trunc_neg2"),
            logical_xor(k % 2, F.col("o_custkey") % 3).alias("xor_f"),
            is_true(F.col("o_custkey") % 3).alias("is_t"),
            is_false(F.nullif(k % 2, F.lit(1)), with_null=True).alias("is_f_n"),
            mysql_shiftleft(k, 62).cast("string").alias("shl62"),
            mysql_shiftright(-k, 3).cast("string").alias("shr3_neg"),
            mysql_get_format("DATE", locale).alias("fmt"),
            extract_duration("HOUR_MINUTE", dur_ns).alias("dur_hm"),
        )

    return o.select(
        "o_orderkey", *prepared(("scalar_stragglers", "cols"), _build_cols)
    )


SCALAR_STRAGGLERS_SQL = """
SELECT
  o_orderkey,
  DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 719528 AS td,
  CAST(DATE '1970-01-01'
       + CAST(DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
              - 100 AS INT) AS TIMESTAMP) AS fd_ts,
  (DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 719528)
      * CAST(86400 AS BIGINT)
      + ((o_orderkey * 123457 % 1000000) // 1000000) AS tsec,
  CAST((CAST(FLOOR(EPOCH(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) * 1000000
        + o_orderkey * 123457 % 1000000) % 1000000 AS INT) AS micro,
  ROUND(SIGN(o_totalprice) * FLOOR(ABS(o_totalprice) * 10) / 10, 1) AS trunc1,
  SIGN(-o_totalprice) * FLOOR(ABS(o_totalprice) / 100) * 100 AS trunc_neg2,
  CAST((o_orderkey % 2 <> 0) <> (o_custkey % 3 <> 0) AS INT) AS xor_f,
  CAST(o_custkey % 3 <> 0 AS INT) AS is_t,
  CAST(NULLIF(o_orderkey % 2, 1) = 0 AS INT) AS is_f_n,
  CAST((CAST(o_orderkey AS HUGEINT) * CAST(4611686018427387904 AS HUGEINT))
       % CAST(18446744073709551616 AS HUGEINT) AS VARCHAR) AS shl62,
  CAST(((CAST(18446744073709551616 AS HUGEINT) - o_orderkey)
        % CAST(18446744073709551616 AS HUGEINT)) // 8 AS VARCHAR) AS shr3_neg,
  CASE WHEN o_orderkey % 3 = 0 THEN '%Y-%m-%d'
       WHEN o_orderkey % 3 = 1 THEN '%m.%d.%Y' END AS fmt,
  (o_orderkey * 37 // 3600) * 100 + (o_orderkey * 37 % 3600) // 60 AS dur_hm
FROM orders
WHERE o_orderkey <= 400
"""

QUERIES["scalar_stragglers"] = scalar_stragglers
ORACLE["scalar_stragglers"] = SCALAR_STRAGGLERS_SQL
