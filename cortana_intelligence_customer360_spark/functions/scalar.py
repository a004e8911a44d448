"""Scalar function families (SURVEY.md §2.7): one query per family,
each exercising >=4 functions, all built-in pyspark.sql.functions (JVM
whole-stage codegen - no Python in the row path).

Dialect notes vs the DuckDB oracle are inline per query (dayofweek
bases, list lambda names, json extraction); transcendental outputs are
rounded to 6 dp on values kept O(10) so a 1-ulp libm difference can't
flip the hash (compat rule 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..compat import bcount, epoch_us
from ..session import session_conf
from ..sources.tables import load_table


def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """upper/lower/substring/trim/concat_ws/length/regexp_extract/split."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("name_up"),
        F.lower("c_mktsegment").alias("seg_lo"),
        F.substring("c_name", 1, 8).alias("name_pre"),
        F.length("c_name").cast("long").alias("name_len"),
        F.trim(F.concat_ws(" ", "c_mktsegment", "c_name")).alias("seg_name"),
        F.regexp_extract("c_name", r"Customer#(\d+)", 1).cast("long").alias("cust_num"),
        F.split("c_name", "#").getItem(0).alias("name_word"),
    )


_FN_STRING_SQL = """
SELECT c_custkey,
       upper(c_name) AS name_up,
       lower(c_mktsegment) AS seg_lo,
       substring(c_name, 1, 8) AS name_pre,
       CAST(length(c_name) AS BIGINT) AS name_len,
       trim(concat_ws(' ', c_mktsegment, c_name)) AS seg_name,
       CAST(regexp_extract(c_name, 'Customer#(\\d+)', 1) AS BIGINT) AS cust_num,
       split_part(c_name, '#', 1) AS name_word
FROM customer
"""


def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month/dayofweek/date_trunc/datediff/date_add/last_day.
    Spark dayofweek is 1=Sunday..7, DuckDB 0=Sunday..6: normalized to
    the 0-base. Dates emitted as ISO strings (compat rule 4)."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.year(d).cast("long").alias("o_year"),
        F.month(d).cast("long").alias("o_month"),
        (F.dayofweek(d) - 1).cast("long").alias("dow_sun0"),
        F.date_trunc("month", d).cast("date").cast("string").alias("month_start"),
        F.datediff(F.lit("2001-08-01").cast("date"), d.cast("date"))
        .cast("long")
        .alias("days_to_anchor"),
        F.date_add(d.cast("date"), 30).cast("string").alias("plus_30d"),
        F.last_day(d).cast("string").alias("month_end"),
    )


_FN_DATE_SQL = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(month(o_orderdate) AS BIGINT) AS o_month,
       CAST(dayofweek(o_orderdate) AS BIGINT) AS dow_sun0,
       CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month_start,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2001-08-01') AS BIGINT)
         AS days_to_anchor,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE)::VARCHAR AS plus_30d,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end
FROM orders
"""


def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """round/abs/ceil/floor/ln/log10/pow/sqrt/pmod. Transcendentals are
    computed on O(10) magnitudes and rounded to 6 dp; sqrt/abs/ceil/
    floor are exactly rounded IEEE ops and stay raw."""
    part = load_table(spark, sf_dir, "part")
    price = F.col("p_retailprice")
    return part.select(
        "p_partkey",
        F.abs(price - 1000.0).alias("abs_off"),
        F.ceil(price).cast("long").alias("price_ceil"),
        F.floor(price).cast("long").alias("price_floor"),
        F.round(F.sqrt(price), 2).alias("sqrt_price_r2"),
        F.round(F.log(price + 1.0), 6).alias("ln_price"),
        F.round(F.log10(price + 1.0), 6).alias("log10_price"),
        F.round(F.pow(F.col("p_size").cast("double"), 1.5), 6).alias("size_pow"),
        F.pmod(F.col("p_partkey"), F.lit(7)).cast("long").alias("key_mod7"),
    )


_FN_MATH_SQL = """
SELECT p_partkey,
       abs(p_retailprice - 1000.0) AS abs_off,
       CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
       CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
       round(sqrt(p_retailprice), 2) AS sqrt_price_r2,
       round(ln(p_retailprice + 1.0), 6) AS ln_price,
       round(log10(p_retailprice + 1.0), 6) AS log10_price,
       round(pow(CAST(p_size AS DOUBLE), 1.5), 6) AS size_pow,
       CAST(p_partkey % 7 AS BIGINT) AS key_mod7
FROM part
"""


def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN banding + coalesce/nullif/nvl."""
    orders = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice")
    return orders.select(
        "o_orderkey",
        F.when(price < 50000, "low")
        .when(price < 200000, "mid")
        .otherwise("high")
        .alias("price_band"),
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_or_null"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")).alias(
            "status_filled"
        ),
        F.nvl(F.col("o_orderpriority"), F.lit("NONE")).alias("priority_nvl"),
    )


_FN_COND_SQL = """
SELECT o_orderkey,
       CASE WHEN o_totalprice < 50000 THEN 'low'
            WHEN o_totalprice < 200000 THEN 'mid'
            ELSE 'high' END AS price_band,
       nullif(o_orderstatus, 'P') AS status_or_null,
       coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_filled,
       coalesce(o_orderpriority, 'NONE') AS priority_nvl
FROM orders
"""


def fn_cast_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """double -> DECIMAL(12,2) -> string -> double roundtrip + int/str
    casts (prices carry exactly 2 decimals, so the decimal cast is
    exact on both engines)."""
    orders = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast(T.DecimalType(12, 2))
    return orders.select(
        "o_orderkey",
        dec.cast("string").alias("price_dec_str"),
        dec.cast("double").alias("price_back"),
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_orderkey").cast("string").cast("long").alias("key_back"),
        F.col("o_totalprice").cast("int").cast("long").alias("price_int"),
    )


_FN_CAST_SQL = """
SELECT o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS price_dec_str,
       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price_back,
       CAST(o_orderkey AS VARCHAR) AS key_str,
       CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_back,
       CAST(trunc(o_totalprice) AS BIGINT) AS price_int  -- Spark double->int truncates; DuckDB rounds
FROM orders
"""


def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array + higher-order functions over document tokens; array
    results are stringified or reduced to scalars (compat rule 6)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("first3"),
        F.element_at(F.sort_array(toks), 1).alias("min_token"),
        F.aggregate(
            F.transform(toks, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_token_len"),
        F.size(F.filter(toks, lambda x: F.length(x) > 5)).cast("long").alias("n_long"),
    )


_FN_ARRAY_SQL = """
SELECT doc_id,
       CAST(len(l) AS BIGINT) AS n_tokens,
       list_contains(l, 'spark') AS has_spark,
       CAST(len(list_distinct(l)) AS BIGINT) AS n_distinct,
       array_to_string(list_slice(l, 1, 3), ' ') AS first3,
       list_sort(l)[1] AS min_token,
       CAST(list_aggregate(list_transform(l, x -> length(x)), 'sum') AS BIGINT)
         AS sum_token_len,
       CAST(len(list_filter(l, x -> length(x) > 5)) AS BIGINT) AS n_long
FROM (SELECT doc_id, str_split(text, ' ') AS l FROM documents)
"""


def fn_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode of document tokens into (doc_id, pos, token) rows -
    the built-in UDTF shape."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "token")


_FN_EXPLODE_SQL = """
SELECT d.doc_id, CAST(r.i AS BIGINT) AS pos, d.l[r.i + 1] AS token
FROM (SELECT doc_id, str_split(text, ' ') AS l FROM documents) d,
     LATERAL (SELECT UNNEST(range(len(d.l))) AS i) r
"""


def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + access; map outputs reduced to scalars /
    sorted joined keys so the oracle hash is stable."""
    ev = load_table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"),
        F.col("event_type"),
        F.lit("k"),
        F.get_json_object("props", "$.k"),
    )
    return ev.select(
        "event_id",
        F.element_at(m, "type").alias("type_val"),
        F.element_at(m, "k").cast("long").alias("k_val"),
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("keys_sorted"),
        F.size(F.map_values(m)).cast("long").alias("n_vals"),
    )


_FN_MAP_SQL = """
SELECT event_id,
       event_type AS type_val,
       CAST(props->>'$.k' AS BIGINT) AS k_val,
       'k,type' AS keys_sorted,
       CAST(2 AS BIGINT) AS n_vals
FROM events
"""


def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction + schema-on-read parse of the props column
    (both extraction styles must agree), then a per-user aggregate."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "user_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_path"),
        F.from_json("props", "k INT").getField("k").cast("long").alias("k_schema"),
    )
    return parsed.groupBy("user_id").agg(
        F.sum("k_path").cast("long").alias("sum_k"),
        F.sum(F.when(F.col("k_path") == F.col("k_schema"), 1).otherwise(0))
        .cast("long")
        .alias("n_agree"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


_FN_JSON_SQL = """
SELECT user_id,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(SUM(CASE WHEN CAST(props->>'$.k' AS BIGINT) = CAST(json_extract(props, '$.k') AS BIGINT)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id
"""


def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType path: parse the props JSON into an open
    VARIANT (no declared schema — the semi-structured ingestion shape)
    and extract typed fields with variant_get. Variant is a binary
    encoding, so it never appears in the output schema; only the
    extracted primitives do. Map-side only until the final per-type
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.variant_get(F.parse_json("props"), "$.k", "long").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.sum("k").cast("long").alias("sum_k"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


_FN_VARIANT_SQL = """
SELECT event_type,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""


def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collation support: group a deliberately mixed-case key
    under the UTF8_LCASE collation — comparisons/grouping become
    case-insensitive WITHOUT rewriting values through lower() (at
    scale, collation-aware grouping keeps codegen string comparators;
    it is not a per-row UDF). The emitted key is normalized via
    lower() only because the collated group representative is
    first-seen (physical-order-dependent) — the grouping itself is
    done by the collation."""
    ev = load_table(spark, sf_dir, "events")
    mixed = F.when(
        F.col("event_id") % 2 == 0, F.upper("event_type")
    ).otherwise(F.col("event_type"))
    grouped = ev.select(mixed.alias("mixed_case")).groupBy(
        F.collate("mixed_case", "UTF8_LCASE").alias("k")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return grouped.select(F.lower("k").alias("event_type"), "n")


_FN_COLLATION_SQL = """
WITH m AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
              ELSE event_type END AS mixed_case
  FROM events)
SELECT lower(mixed_case) AS event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM m GROUP BY lower(mixed_case)
"""


def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise ops on keys: and/or/xor/not/shifts (partition-routing
    and bitmap arithmetic primitives)."""
    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return orders.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).cast("long").alias("k_and"),
        k.bitwiseOR(F.lit(1)).cast("long").alias("k_or"),
        k.bitwiseXOR(F.col("o_custkey")).cast("long").alias("k_xor"),
        F.expr("~o_orderkey").cast("long").alias("k_not"),
        F.expr("o_orderkey << 3").cast("long").alias("k_shl"),
        F.expr("o_orderkey >> 2").cast("long").alias("k_shr"),
        F.bit_count(k).cast("long").alias("k_popcount"),
    )


_FN_BITWISE_SQL = """
SELECT o_orderkey,
       CAST(o_orderkey & 255 AS BIGINT) AS k_and,
       CAST(o_orderkey | 1 AS BIGINT) AS k_or,
       CAST(xor(o_orderkey, o_custkey) AS BIGINT) AS k_xor,
       CAST(~o_orderkey AS BIGINT) AS k_not,
       CAST(o_orderkey << 3 AS BIGINT) AS k_shl,
       CAST(o_orderkey >> 2 AS BIGINT) AS k_shr,
       CAST(bit_count(o_orderkey) AS BIGINT) AS k_popcount
FROM orders
"""


def fn_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex surface: extract / replace / match over customer names.
    DuckDB's regexp_replace is first-match by default, so the oracle
    passes the 'g' flag to mirror Spark's replace-all semantics."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.regexp_extract("c_name", r"([0-9]+)$", 1).alias("name_num"),
        F.regexp_replace("c_name", r"[0-9]", "#").alias("name_masked"),
        F.col("c_name").rlike(r"Customer#0*1[0-9]$").alias("is_teen_id"),
    )


_FN_REGEXP_SQL = r"""
SELECT c_custkey,
       regexp_extract(c_name, '([0-9]+)$', 1) AS name_num,
       regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked,
       regexp_matches(c_name, 'Customer#0*1[0-9]$') AS is_teen_id
FROM customer
"""


def fn_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance surface: classic Levenshtein between every nation
    and region name (bounded 25x5 cross of broadcast dims)."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.crossJoin(F.broadcast(region))
        .select(
            "n_name",
            "r_name",
            F.levenshtein("n_name", "r_name").cast("long").alias("edit_dist"),
        )
    )


_FN_LEVENSHTEIN_SQL = """
SELECT n_name, r_name,
       CAST(levenshtein(n_name, r_name) AS BIGINT) AS edit_dist
FROM nation CROSS JOIN region
"""


def fn_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic: try_divide / try_add and NULL-instead-of-
    error casts — the functions that keep a 100 TB batch job from dying
    on one malformed row. Division by a data-dependent zero yields NULL
    (not an exception, not Inf); try_to_number on a non-numeric string
    yields NULL. Map-only."""
    o = load_table(spark, sf_dir, "orders")
    # o_orderkey % 50 is zero for some rows -> real divide-by-zero sites
    denom = (F.col("o_orderkey") % 50).cast("double")
    numstr = F.when(
        F.col("o_orderkey") % 3 == 0, F.lit("not-a-number")
    ).otherwise(F.col("o_totalprice").cast("string"))
    return o.select(
        "o_orderkey",
        # raw IEEE quotient: identical operand doubles -> identical
        # result on both engines; rounding would re-introduce .5 ties
        F.try_divide(F.col("o_totalprice"), denom).alias("per_mod"),
        F.try_add(F.col("o_orderkey"), F.lit(9_223_372_036_854_775_800)).alias(
            "try_overflow"
        ),
        F.try_to_number(numstr, F.lit("999999.99")).cast("double").alias("parsed"),
    )


_FN_TRY_SQL = """
WITH t AS (
  SELECT o_orderkey, o_totalprice,
         CAST(o_orderkey AS HUGEINT) + 9223372036854775800 AS h
  FROM orders)
SELECT o_orderkey,
       CASE WHEN o_orderkey % 50 = 0 THEN NULL
            ELSE o_totalprice / CAST(o_orderkey % 50 AS DOUBLE) END AS per_mod,
       CASE WHEN h > 9223372036854775807 THEN NULL
            ELSE CAST(h AS BIGINT) END AS try_overflow,
       CASE WHEN o_orderkey % 3 = 0 THEN NULL
            ELSE CAST(o_totalprice AS DOUBLE) END AS parsed
FROM t
"""


def fn_array_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra (array_union / array_intersect / array_except)
    between each document's token set and the stopword list. Result
    ordering is engine-defined, so arrays are sorted then stringified
    (compat rule 6) before comparison."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split("text", " "))
    stop = F.array(*[F.lit(w) for w in _STOP_SAMPLE])
    return docs.select(
        "doc_id",
        F.array_join(F.array_sort(F.array_intersect(toks, stop)), ",").alias(
            "stop_hits"
        ),
        F.size(F.array_except(toks, stop)).cast("long").alias("n_content"),
        F.size(F.array_union(toks, stop)).cast("long").alias("n_union"),
    )


_STOP_SAMPLE = ["the", "a", "of", "and", "to"]

_FN_ARRAY_SETS_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_distinct(str_split(text, ' ')) AS toks,
         {_STOP_SAMPLE!r} AS stop
  FROM documents)
SELECT doc_id,
       COALESCE(array_to_string(list_sort(list_intersect(toks, stop)), ','), '')
         AS stop_hits,
       CAST(length(list_filter(toks, x -> NOT list_contains(stop, x))) AS BIGINT)
         AS n_content,
       CAST(length(list_distinct(list_concat(toks, stop))) AS BIGINT) AS n_union
FROM t
"""


def fn_string2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string family: initcap / translate / lpad / rpad /
    repeat / reverse / overlay / format_string — the formatting side
    of the string surface (fn_string covers extraction)."""
    cu = load_table(spark, sf_dir, "customer")
    return cu.select(
        "c_custkey",
        F.initcap(F.lower("c_mktsegment")).alias("seg_title"),
        F.translate("c_name", "#0", "-O").alias("name_subst"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_pad"),
        F.rpad("c_mktsegment", 12, ".").alias("seg_rpad"),
        F.repeat(F.lit("ab"), 3).alias("rep"),
        F.reverse("c_name").alias("name_rev"),
        F.overlay("c_name", F.lit("XX"), 1, 2).alias("name_overlay"),
        F.format_string("u%05d:%s", F.col("c_custkey"), F.col("c_mktsegment")).alias(
            "formatted"
        ),
    )


_FN_STRING2_SQL = """
SELECT c_custkey,
       -- DuckDB initcap uppercases after non-alpha too; segments are
       -- single words so simple title-casing matches Spark
       upper(substring(lower(c_mktsegment), 1, 1))
         || substring(lower(c_mktsegment), 2) AS seg_title,
       translate(c_name, '#0', '-O') AS name_subst,
       lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_pad,
       rpad(c_mktsegment, 12, '.') AS seg_rpad,
       repeat('ab', 3) AS rep,
       reverse(c_name) AS name_rev,
       'XX' || substring(c_name, 3) AS name_overlay,
       printf('u%05d:%s', c_custkey, c_mktsegment) AS formatted
FROM customer
"""


def fn_make_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime constructors: make_date / make_timestamp /
    make_interval + interval arithmetic — the inverse direction of
    fn_date's extractors. Components come from order keys (mod-cycled
    into valid ranges) so both engines construct from identical
    integers; timestamps emit as epoch-µs (compat rule 4)."""
    o = load_table(spark, sf_dir, "orders")
    yr = (F.col("o_orderkey") % 30 + 1990).cast("int")
    mo = (F.col("o_orderkey") % 12 + 1).cast("int")
    dy = (F.col("o_orderkey") % 28 + 1).cast("int")
    hh = (F.col("o_orderkey") % 24).cast("int")
    made_date = F.make_date(yr, mo, dy)
    made_ts = F.make_timestamp(yr, mo, dy, hh, F.lit(30), F.lit(0))
    return o.select(
        "o_orderkey",
        made_date.cast("string").alias("made_date"),
        epoch_us(made_ts).alias("made_ts_us"),
        epoch_us(made_ts + F.make_interval(days=F.lit(45))).alias("plus_45d_us"),
        F.datediff(made_date, F.lit("1990-01-01").cast("date"))
        .cast("long")
        .alias("days_since_epoch90"),
    )


_FN_MAKE_SQL = """
WITH c AS (
  SELECT o_orderkey,
         CAST(o_orderkey % 30 + 1990 AS INT) AS yr,
         CAST(o_orderkey % 12 + 1 AS INT) AS mo,
         CAST(o_orderkey % 28 + 1 AS INT) AS dy,
         CAST(o_orderkey % 24 AS INT) AS hh
  FROM orders),
m AS (
  SELECT o_orderkey,
         make_date(yr, mo, dy) AS md,
         make_timestamp(yr, mo, dy, hh, 30, 0.0) AS mt
  FROM c)
SELECT o_orderkey,
       CAST(md AS VARCHAR) AS made_date,
       epoch_us(mt) AS made_ts_us,
       epoch_us(mt + INTERVAL 45 DAY) AS plus_45d_us,
       CAST(date_diff('day', DATE '1990-01-01', md) AS BIGINT)
         AS days_since_epoch90
FROM m
"""


def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized spark.sql (named-parameter binding, Spark 3.4+):
    the injection-safe query API — parameters are bound as literals by
    the engine, not string-interpolated. The query itself is a banded
    aggregate whose band edges arrive as parameters."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_param")
    return spark.sql(
        """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN o_totalprice > :hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_big
FROM orders_param
WHERE o_totalprice >= :lo
GROUP BY o_orderstatus
""",
        args={"lo": 1000.0, "hi": 200000.0},
    )


_SQL_PARAM_SQL = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN o_totalprice > 200000.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_big
FROM orders
WHERE o_totalprice >= 1000.0
GROUP BY o_orderstatus
"""


def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax (|>): the linear FROM-first dataflow
    form of a filter→join→aggregate→order query — semantically
    identical to nested SQL, so the oracle is the classic form. Pins
    that the pipe parser path produces the same plans as everything
    else in this engine."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_pipe")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("cust_pipe")
    return spark.sql(
        """
FROM orders_pipe
|> WHERE o_totalprice > 100000
|> JOIN cust_pipe ON o_custkey = c_custkey
|> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
               AS revenue
   GROUP BY c_mktsegment
|> ORDER BY c_mktsegment
"""
    )


_SQL_PIPE_SQL = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > 100000
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL session variables (DECLARE / SET VARIABLE): the
    scripting-state surface — a threshold computed by one statement
    parameterizes the next without any client-side string splicing.
    The variable value is deterministic (a fixed quantile-ish constant
    anchored to the data), so the oracle inlines the same expression."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_var")
    spark.sql("DECLARE OR REPLACE VARIABLE c360_price_thr DOUBLE DEFAULT 0.0")
    spark.sql(
        "SET VARIABLE c360_price_thr = "
        "(SELECT MAX(o_totalprice) / 2.0 FROM orders_var)"
    )
    return spark.sql(
        """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_above,
       MIN(o_totalprice) AS min_above
FROM orders_var
WHERE o_totalprice > c360_price_thr
GROUP BY o_orderstatus
"""
    )


_SQL_VARS_SQL = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_above,
       MIN(o_totalprice) AS min_above
FROM orders
WHERE o_totalprice > (SELECT MAX(o_totalprice) / 2.0 FROM orders)
GROUP BY o_orderstatus
"""


def fn_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML extraction with the xpath function family (xpath_string /
    xpath_long / xpath_double / xpath count form). The document is
    synthesized deterministically from customer columns, so the oracle
    emits ground truth straight from the source columns — pinning the
    XPath engine against construction (same pattern as fn_url). The
    balance rides as an exact DECIMAL(12,2) string so the text->number
    roundtrip is bit-exact. Map-only.

    Cost note: Spark evaluates xpath_* through the JVM XPath engine
    per call (never codegen) at ~100 µs/evaluation, so the query runs
    on a deterministic 10% key slice — 5 extractions x 1.5k docs at
    sf0.1 — which demonstrates the surface without burning bench time;
    at scale you'd parse once with from_xml, not per-field xpath."""
    cu = load_table(spark, sf_dir, "customer").where(
        F.col("c_custkey") % 10 == 0
    )
    dec_bal = F.col("c_acctbal").cast(T.DecimalType(12, 2)).cast("string")
    xml = F.concat(
        F.lit('<cust id="'),
        F.col("c_custkey"),
        F.lit('"><seg>'),
        F.col("c_mktsegment"),
        F.lit("</seg><bal>"),
        dec_bal,
        F.lit("</bal><nk>"),
        F.col("c_nationkey"),
        F.lit("</nk></cust>"),
    )
    x = F.col("xml")
    return cu.select("c_custkey", xml.alias("xml")).select(
        "c_custkey",
        F.xpath_string(x, F.lit("/cust/seg")).alias("seg"),
        F.xpath_double(x, F.lit("/cust/bal")).alias("bal"),
        F.xpath_long(x, F.lit("/cust/nk")).alias("nk"),
        F.xpath_long(x, F.lit('/cust/@id')).alias("id_attr"),
        F.size(F.xpath(x, F.lit("/cust/*"))).cast("long").alias("n_children"),
    )


_FN_XML_SQL = """
SELECT c_custkey,
       c_mktsegment AS seg,
       CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal,
       CAST(c_nationkey AS BIGINT) AS nk,
       CAST(c_custkey AS BIGINT) AS id_attr,
       CAST(3 AS BIGINT) AS n_children
FROM customer WHERE c_custkey % 10 = 0
"""


def fn_xml_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass XML COLUMN parsing with ``from_xml`` (the scale
    path fn_xml's docstring promises — one parse per document instead
    of one JVM XPath evaluation per field) plus the ``to_xml``
    round-trip: the document is synthesized by independent string
    concatenation, parsed once into a struct (attributes surface with
    the ``_`` prefix), and a second copy goes struct → to_xml →
    from_xml to pin the writer/parser pair against each other. The
    oracle emits ground truth from the source columns. Map-only,
    whole-stage codegen around the two parse expressions."""
    cu = load_table(spark, sf_dir, "customer")
    dec_bal = F.col("c_acctbal").cast(T.DecimalType(12, 2)).cast("string")
    xml = F.concat(
        F.lit('<cust id="'),
        F.col("c_custkey"),
        F.lit('"><seg>'),
        F.col("c_mktsegment"),
        F.lit("</seg><bal>"),
        dec_bal,
        F.lit("</bal><nk>"),
        F.col("c_nationkey"),
        F.lit("</nk></cust>"),
    )
    schema = "STRUCT<_id: BIGINT, seg: STRING, bal: STRING, nk: INT>"
    parsed = F.from_xml(xml, schema)
    rt = F.from_xml(
        F.to_xml(
            F.struct(
                F.col("c_mktsegment").alias("seg"),
                F.col("c_nationkey").alias("nk"),
            )
        ),
        "STRUCT<seg: STRING, nk: INT>",
    )
    return cu.select(
        "c_custkey",
        parsed["_id"].alias("id_attr"),
        parsed["seg"].alias("seg"),
        parsed["bal"].cast("double").alias("bal"),
        parsed["nk"].cast("long").alias("nk"),
        rt["seg"].alias("rt_seg"),
        rt["nk"].cast("long").alias("rt_nk"),
    )


_FN_XML_STRUCT_SQL = """
SELECT c_custkey,
       CAST(c_custkey AS BIGINT) AS id_attr,
       c_mktsegment AS seg,
       CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal,
       CAST(c_nationkey AS BIGINT) AS nk,
       c_mktsegment AS rt_seg,
       CAST(c_nationkey AS BIGINT) AS rt_nk
FROM customer
"""


def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL component extraction with Spark's native ``parse_url``
    (HOST / PATH / QUERY-parameter forms). The URL is synthesized
    deterministically from customer columns, so the oracle emits the
    ground-truth components straight from the source columns — pinning
    parse_url's behavior against construction, not against a second
    parser. Map-only; whole-stage codegen."""
    cu = load_table(spark, sf_dir, "customer")
    url = F.concat(
        F.lit("https://shop.example/seg/"),
        F.lower("c_mktsegment"),
        F.lit("/u"),
        F.col("c_custkey"),
        F.lit("?n="),
        F.col("c_nationkey"),
        F.lit("&b="),
        F.round("c_acctbal").cast("long"),
    )
    u = F.col("url")
    return cu.select("c_custkey", url.alias("url")).select(
        "c_custkey",
        "url",
        F.parse_url(u, F.lit("HOST")).alias("host"),
        F.parse_url(u, F.lit("PATH")).alias("path"),
        F.parse_url(u, F.lit("QUERY"), F.lit("n")).cast("long").alias("q_n"),
        F.parse_url(u, F.lit("QUERY"), F.lit("b")).cast("long").alias("q_b"),
    )


_FN_URL_SQL = """
SELECT c_custkey,
       'https://shop.example/seg/' || lower(c_mktsegment) || '/u' || c_custkey
         || '?n=' || c_nationkey || '&b=' || CAST(round(c_acctbal) AS BIGINT)
         AS url,
       'shop.example' AS host,
       '/seg/' || lower(c_mktsegment) || '/u' || c_custkey AS path,
       CAST(c_nationkey AS BIGINT) AS q_n,
       CAST(round(c_acctbal) AS BIGINT) AS q_b
FROM customer
"""


def fn_datetime_tz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone conversion surface: from_utc_timestamp into DST-aware
    zones (America/New_York crosses EST/EDT inside the data range,
    Asia/Tokyo is fixed-offset), rendered as wall-clock strings plus
    tz-local hour and date — the "local business day" derivations every
    global pipeline needs. The oracle reconstructs the instants with an
    EXPLICIT '+00' offset literal (never a bare TIMESTAMPTZ cast), so
    it is independent of the DuckDB session timezone; both engines
    resolve transitions from the IANA tzdb. Map-only, codegen'd."""
    ev = load_table(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    ny = F.from_utc_timestamp("ts", "America/New_York")
    tk = F.from_utc_timestamp("ts", "Asia/Tokyo")
    return ev.select(
        "event_id",
        F.date_format("ts", fmt).alias("utc_wall"),
        F.date_format(ny, fmt).alias("ny_wall"),
        F.date_format(tk, fmt).alias("tokyo_wall"),
        F.hour(ny).cast("long").alias("ny_hour"),
        ny.cast("date").cast("string").alias("ny_date"),
    )


def _fn_datetime_tz_sql() -> str:
    inst = "(strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '+00')::TIMESTAMPTZ"
    ny = f"timezone('America/New_York', {inst})"
    tk = f"timezone('Asia/Tokyo', {inst})"
    return f"""
SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS utc_wall,
       strftime({ny}, '%Y-%m-%d %H:%M:%S.%f') AS ny_wall,
       strftime({tk}, '%Y-%m-%d %H:%M:%S.%f') AS tokyo_wall,
       CAST(hour({ny}) AS BIGINT) AS ny_hour,
       CAST(CAST({ny} AS DATE) AS VARCHAR) AS ny_date
FROM events
"""


def fn_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order function surface: exists / forall / zip_with /
    aggregate-with-finish over arrays, plus the map lambda family
    (map_from_arrays, map_filter, transform_values) reduced to scalar
    outputs. The source array is sequence(1, p_size) — deterministic
    per row — and the map results are emitted as sizes/sums so the
    oracle can restate them with DuckDB's list lambdas (which have no
    map type). All codegen'd column expressions; map-only scan."""
    part = load_table(spark, sf_dir, "part")
    arr = F.sequence(F.lit(1), F.col("p_size"))
    dot = F.aggregate(
        F.zip_with(arr, F.reverse(arr), lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    fin = F.aggregate(
        arr,
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
        lambda acc: acc * 2 + 1,
    )
    m = F.map_from_arrays(arr, F.transform(arr, lambda x: x * x))
    n_even_vals = F.size(F.map_filter(m, lambda k, v: v % 2 == 0))
    sum_tv = F.aggregate(
        F.map_values(F.transform_values(m, lambda k, v: (v + k).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return part.select(
        "p_partkey",
        F.exists(arr, lambda x: x % 7 == 0).alias("has_mult7"),
        F.forall(arr, lambda x: x % 2 == 1).alias("all_odd"),
        dot.alias("rev_dot"),
        fin.alias("sum_finish"),
        n_even_vals.cast("long").alias("n_even_sq"),
        sum_tv.alias("sum_sq_plus_key"),
    )


_FN_HOF_SQL = """
WITH t AS (SELECT p_partkey, range(1, p_size + 1) AS l FROM part)
SELECT p_partkey,
       len(list_filter(l, x -> x % 7 = 0)) > 0 AS has_mult7,
       len(list_filter(l, x -> x % 2 = 0)) = 0 AS all_odd,
       CAST(list_sum(list_transform(l, x ->
            x * (len(l) + 1 - x))) AS BIGINT) AS rev_dot,
       CAST(list_sum(l) * 2 + 1 AS BIGINT) AS sum_finish,
       CAST(len(list_filter(l, x -> (x * x) % 2 = 0)) AS BIGINT)
         AS n_even_sq,
       CAST(list_sum(list_transform(l, x -> x * x + x)) AS BIGINT)
         AS sum_sq_plus_key
FROM t
"""


QUERIES = {
    "fn_datetime_tz": fn_datetime_tz,
    "fn_higher_order": fn_higher_order,
    "fn_string2": fn_string2,
    "fn_make_datetime": fn_make_datetime,
    "sql_parameterized": sql_parameterized,
    "sql_pipe_syntax": sql_pipe_syntax,
    "sql_session_variables": sql_session_variables,
    "fn_xml": fn_xml,
    "fn_xml_struct": fn_xml_struct,
    "fn_try_arith": fn_try_arith,
    "fn_array_sets": fn_array_sets,
    "fn_url": fn_url,
    "fn_string": fn_string,
    "fn_regexp": fn_regexp,
    "fn_levenshtein": fn_levenshtein,
    "fn_bitwise": fn_bitwise,
    "fn_date": fn_date,
    "fn_math": fn_math,
    "fn_conditional": fn_conditional,
    "fn_cast_decimal": fn_cast_decimal,
    "fn_array": fn_array,
    "fn_explode": fn_explode,
    "fn_map": fn_map,
    "fn_json": fn_json,
    "fn_variant": fn_variant,
    "fn_collation": fn_collation,
}

ORACLE = {
    "fn_datetime_tz": _fn_datetime_tz_sql(),
    "fn_higher_order": _FN_HOF_SQL,
    "fn_string2": _FN_STRING2_SQL,
    "fn_make_datetime": _FN_MAKE_SQL,
    "sql_parameterized": _SQL_PARAM_SQL,
    "sql_pipe_syntax": _SQL_PIPE_SQL,
    "sql_session_variables": _SQL_VARS_SQL,
    "fn_xml": _FN_XML_SQL,
    "fn_xml_struct": _FN_XML_STRUCT_SQL,
    "fn_try_arith": _FN_TRY_SQL,
    "fn_array_sets": _FN_ARRAY_SETS_SQL,
    "fn_url": _FN_URL_SQL,
    "fn_string": _FN_STRING_SQL,
    "fn_regexp": _FN_REGEXP_SQL,
    "fn_levenshtein": _FN_LEVENSHTEIN_SQL,
    "fn_bitwise": _FN_BITWISE_SQL,
    "fn_date": _FN_DATE_SQL,
    "fn_math": _FN_MATH_SQL,
    "fn_conditional": _FN_COND_SQL,
    "fn_cast_decimal": _FN_CAST_SQL,
    "fn_array": _FN_ARRAY_SQL,
    "fn_explode": _FN_EXPLODE_SQL,
    "fn_map": _FN_MAP_SQL,
    "fn_json": _FN_JSON_SQL,
    "fn_variant": _FN_VARIANT_SQL,
    "fn_collation": _FN_COLLATION_SQL,
}


def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 GROUP BY ALL + ORDER BY ALL: every non-aggregate select
    item becomes a grouping key without restating the list — the
    analyzer-sugar surface. Semantically identical to the explicit
    form, which is what the oracle runs; grouping/ordering resolution
    happens at analysis time so the physical plan is the ordinary
    partial/final hash aggregate."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_gba")
    return spark.sql(
        """
SELECT l_returnflag, l_linestatus,
       CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM li_gba
WHERE l_shipdate >= DATE'1996-01-01'
GROUP BY ALL
ORDER BY ALL
"""
    )


_SQL_GROUP_BY_ALL_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_shipdate >= DATE'1996-01-01'
GROUP BY l_returnflag, l_linestatus, year(l_shipdate)
"""

QUERIES["sql_group_by_all"] = sql_group_by_all
ORACLE["sql_group_by_all"] = _SQL_GROUP_BY_ALL_SQL


def fn_luhn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn checksum (the card-number / IMEI check digit) as a pure
    higher-order fold: 16-digit account numbers are synthesized from
    the order key (15 payload digits + a planted check digit that is
    valid only for even keys), then validated by the doubled-digit sum
    rule. Exercises transform-with-index + aggregate over exact
    integers; map-only, codegen. Spark 4 also ships a native
    ``luhn_check`` — emitted side-by-side to pin our fold against the
    built-in."""
    orders = load_table(spark, sf_dir, "orders")
    payload = F.lpad(
        ((F.col("o_orderkey").cast("decimal(20,0)") * 7919) % F.lit(10).cast("decimal(20,0)").__pow__(15))
        .cast("decimal(20,0)").cast("string"),
        15,
        "0",
    )
    d = orders.select("o_orderkey", payload.alias("p15"))
    digits = F.transform(
        F.split(F.col("acct"), ""), lambda c: c.cast("int")
    )
    # Luhn over a 16-digit string: from the RIGHT, double every 2nd
    # digit. With fixed length 16, positions 0,2,4,... (0-based from
    # the left) are the doubled ones.
    luhn_sum = F.aggregate(
        F.zip_with(
            digits,
            F.sequence(F.lit(0), F.lit(15)),
            lambda dgt, i: F.when(
                i % 2 == 0,
                F.when(dgt * 2 > 9, dgt * 2 - 9).otherwise(dgt * 2),
            ).otherwise(dgt),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    # check digit: valid for even order keys, off-by-one otherwise
    with_acct = d.withColumn(
        "acct",
        F.concat(
            F.col("p15"),
            F.when(F.col("o_orderkey") % 2 == 0, _luhn_check_digit(F.col("p15")))
            .otherwise((_luhn_check_digit(F.col("p15")) + 1) % 10)
            .cast("string"),
        ),
    )
    return with_acct.select(
        "o_orderkey",
        "acct",
        luhn_sum.cast("long").alias("luhn_sum"),
        (luhn_sum % 10 == 0).alias("is_valid"),
        F.expr("luhn_check(acct)").alias("is_valid_native"),
    )


def _luhn_check_digit(p15: "F.Column") -> "F.Column":
    """Check digit for a 15-digit payload: digit making the 16-digit
    Luhn sum divisible by 10. In the final 16-digit string the payload
    occupies positions 0..14, so payload digits at EVEN 0-based
    positions get doubled; the check digit itself (position 15) is
    added raw."""
    digits = F.transform(F.split(p15, ""), lambda c: c.cast("int"))
    s = F.aggregate(
        F.zip_with(
            digits,
            F.sequence(F.lit(0), F.lit(14)),
            lambda dgt, i: F.when(
                i % 2 == 0,
                F.when(dgt * 2 > 9, dgt * 2 - 9).otherwise(dgt * 2),
            ).otherwise(dgt),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (10 - (s % 10)) % 10


_FN_LUHN_SQL = """
WITH d AS (
  SELECT o_orderkey,
         lpad(CAST((CAST(o_orderkey AS HUGEINT) * 7919)
                   % 1000000000000000 AS VARCHAR), 15, '0') AS p15
  FROM orders),
pay AS (
  SELECT o_orderkey, p15,
         list_transform(range(15), i ->
           CAST(substr(p15, i + 1, 1) AS INT)) AS pd
  FROM d),
chk AS (
  SELECT o_orderkey, p15,
         (10 - (list_sum(list_transform(range(15), i ->
            CASE WHEN i % 2 = 0
                 THEN CASE WHEN pd[i + 1] * 2 > 9 THEN pd[i + 1] * 2 - 9
                           ELSE pd[i + 1] * 2 END
                 ELSE pd[i + 1] END)) % 10)) % 10 AS cd
  FROM pay),
acct AS (
  SELECT o_orderkey,
         p15 || CAST(CASE WHEN o_orderkey % 2 = 0 THEN cd
                          ELSE (cd + 1) % 10 END AS VARCHAR) AS acct
  FROM chk),
digits AS (
  SELECT o_orderkey, acct,
         list_transform(range(16), i ->
           CAST(substr(acct, i + 1, 1) AS INT)) AS dg
  FROM acct)
SELECT o_orderkey, acct,
       CAST(list_sum(list_transform(range(16), i ->
         CASE WHEN i % 2 = 0
              THEN CASE WHEN dg[i + 1] * 2 > 9 THEN dg[i + 1] * 2 - 9
                        ELSE dg[i + 1] * 2 END
              ELSE dg[i + 1] END)) AS BIGINT) AS luhn_sum,
       list_sum(list_transform(range(16), i ->
         CASE WHEN i % 2 = 0
              THEN CASE WHEN dg[i + 1] * 2 > 9 THEN dg[i + 1] * 2 - 9
                        ELSE dg[i + 1] * 2 END
              ELSE dg[i + 1] END)) % 10 = 0 AS is_valid,
       list_sum(list_transform(range(16), i ->
         CASE WHEN i % 2 = 0
              THEN CASE WHEN dg[i + 1] * 2 > 9 THEN dg[i + 1] * 2 - 9
                        ELSE dg[i + 1] * 2 END
              ELSE dg[i + 1] END)) % 10 = 0 AS is_valid_native
FROM digits
"""

QUERIES["fn_luhn"] = fn_luhn
ORACLE["fn_luhn"] = _FN_LUHN_SQL


def fn_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent pseudonymization — the privacy transform that (unlike
    redaction) PRESERVES JOINABILITY: identical inputs map to the same
    fake token (keyed md5, so the mapping is deterministic but not
    invertible without the key), distinct inputs stay distinct, and
    numeric quasi-identifiers are coarsened instead of dropped.
    Emits the pseudonymous id, a salted-stable name token, the balance
    coarsened to $500 bands, and the nation GENERALIZED away (k-anon
    style) — plus the referential check column: the pseudonym of the
    customer's own key re-derived through the orders side would join
    1:1 (pinned in tests)."""
    cust = load_table(spark, sf_dir, "customer")
    salt = "c360-pseu-v1"
    pid = F.md5(F.concat_ws("|", F.lit(salt), F.col("c_custkey").cast("string")))
    ntoken = F.concat(
        F.lit("user_"),
        F.substring(F.md5(F.concat_ws("|", F.lit(salt), F.lower("c_name"))), 1, 12),
    )
    band = (F.floor(F.col("c_acctbal") / 500) * 500).cast("long")
    return cust.select(
        pid.alias("pseudo_id"),
        ntoken.alias("name_token"),
        band.alias("acctbal_band"),
        F.when(F.col("c_nationkey") < 13, "region_a")
        .otherwise("region_b")
        .alias("coarse_geo"),
        "c_mktsegment",
    )


_FN_PSEUDONYMIZE_SQL = """
SELECT md5('c360-pseu-v1' || '|' || CAST(c_custkey AS VARCHAR)) AS pseudo_id,
       'user_' || substr(md5('c360-pseu-v1' || '|' || lower(c_name)), 1, 12)
         AS name_token,
       CAST(floor(c_acctbal / 500) * 500 AS BIGINT) AS acctbal_band,
       CASE WHEN c_nationkey < 13 THEN 'region_a' ELSE 'region_b' END
         AS coarse_geo,
       c_mktsegment
FROM customer
"""

QUERIES["fn_pseudonymize"] = fn_pseudonymize
ORACLE["fn_pseudonymize"] = _FN_PSEUDONYMIZE_SQL


# ---------------------------------------------------------------------------
# Cryptographic-hash function family (round 5): md5 / sha2-256 digests
# plus the hex-slice -> integer bucketing every hash-partitioned
# pipeline builds on (consistent sharding, A/B assignment, pseudonym
# keys). Map-only, whole-stage codegen; the oracle recomputes both
# digests natively in DuckDB (md5(), sha256()) and converts the hex
# slice via ('0x'||h)::BIGINT against Spark's conv(h, 16, 10).


def fn_crypto_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    md5h = F.md5(F.col("c_name"))
    shah = F.sha2(F.col("c_name"), 256)
    return cust.select(
        "c_custkey",
        md5h.alias("md5_hex"),
        shah.alias("sha256_hex"),
        (F.conv(F.substring(md5h, 1, 15), 16, 10).cast("long") % 1024)
        .alias("md5_bucket"),
        (F.conv(F.substring(shah, 1, 15), 16, 10).cast("long") % 1024)
        .alias("sha_bucket"),
        (F.conv(F.substring(md5h, 1, 8), 16, 10).cast("long")
         == F.conv(F.substring(shah, 1, 8), 16, 10).cast("long"))
        .alias("prefix_collision"),
    )


_FN_CRYPTO_SQL = """
WITH h AS (
  SELECT c_custkey, md5(c_name) AS m, sha256(c_name) AS s FROM customer)
SELECT c_custkey,
       m AS md5_hex,
       s AS sha256_hex,
       CAST(('0x' || substr(m, 1, 15))::BIGINT % 1024 AS BIGINT) AS md5_bucket,
       CAST(('0x' || substr(s, 1, 15))::BIGINT % 1024 AS BIGINT) AS sha_bucket,
       ('0x' || substr(m, 1, 8))::BIGINT = ('0x' || substr(s, 1, 8))::BIGINT
         AS prefix_collision
FROM h
"""

QUERIES["fn_crypto_hash"] = fn_crypto_hash
ORACLE["fn_crypto_hash"] = _FN_CRYPTO_SQL


def fn_binary_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary encode/decode surface: base64 and hex of UTF-8 text, with
    lossless round-trip proof columns — the serialization primitives a
    pipeline needs to smuggle arbitrary bytes through string-typed
    transports. Map-only, whole-stage-codegen; both engines implement
    RFC 4648 base64 (no line wrapping at these lengths) and uppercase
    hex over the identical UTF-8 bytes."""
    part = load_table(spark, sf_dir, "part")
    name_b = F.col("p_name").cast("binary")
    b64 = F.base64(name_b)
    hx = F.hex(F.col("p_brand").cast("binary"))
    return part.select(
        F.col("p_partkey").cast("long").alias("p_partkey"),
        b64.alias("name_b64"),
        F.upper(hx).alias("brand_hex"),
        (F.col("p_name") == F.unbase64(b64).cast("string")).alias("b64_roundtrip"),
        (F.col("p_brand") == F.unhex(hx).cast("string")).alias("hex_roundtrip"),
        F.length(b64).cast("long").alias("b64_len"),
    )


_FN_BINARY_CODEC_SQL = """
SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
       base64(encode(p_name)) AS name_b64,
       upper(hex(p_brand)) AS brand_hex,
       p_name = decode(from_base64(base64(encode(p_name)))) AS b64_roundtrip,
       p_brand = decode(from_hex(hex(p_brand))) AS hex_roundtrip,
       CAST(length(base64(encode(p_name))) AS BIGINT) AS b64_len
FROM part
"""

QUERIES["fn_binary_codec"] = fn_binary_codec
ORACLE["fn_binary_codec"] = _FN_BINARY_CODEC_SQL


def sql_scripting_while(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL scripting (BEGIN/DECLARE/WHILE/END): procedural
    control flow running entirely inside the SQL layer — a YoY growth
    rate is measured once, then compounded over 6 periods by a WHILE
    loop, and the final statement projects per-status revenue at the
    compounded factor. The loop multiplies left-associatively from 1.0,
    and the oracle replays the identical 6-term multiplication chain on
    the identically-rounded growth scalar, so every float is
    bit-matched. Scripting state lives in session variables — zero
    client-side splicing; the per-status aggregate is the only
    distributed work (one exchange, DECIMAL-exact sums)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_scr")
    # The script is parsed and run inside spark.sql(), so the flag can
    # be restored before the caller collects.
    with session_conf(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            """
BEGIN
  DECLARE g DOUBLE;
  DECLARE factor DOUBLE = 1.0;
  DECLARE i INT = 0;
  SET g = (
    SELECT round(
      (CAST(SUM(CASE WHEN year(o_orderdate) = 1997
                     THEN CAST(o_totalprice AS DECIMAL(30,6)) END) AS DOUBLE)
       - CAST(SUM(CASE WHEN year(o_orderdate) = 1996
                       THEN CAST(o_totalprice AS DECIMAL(30,6)) END) AS DOUBLE))
      / CAST(SUM(CASE WHEN year(o_orderdate) = 1996
                      THEN CAST(o_totalprice AS DECIMAL(30,6)) END) AS DOUBLE),
      6)
    FROM orders_scr);
  WHILE i < 6 DO
    SET factor = factor * (1.0 + g);
    SET i = i + 1;
  END WHILE;
  SELECT o_orderstatus,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
         round(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
               * factor, 2) AS projected_6p
  FROM orders_scr
  GROUP BY o_orderstatus;
END
"""
        )


_SQL_SCRIPTING_SQL = """
WITH yr AS (
  SELECT CAST(SUM(CASE WHEN year(o_orderdate) = 1997
                       THEN CAST(o_totalprice AS DECIMAL(30,6)) END) AS DOUBLE) AS r97,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1996
                       THEN CAST(o_totalprice AS DECIMAL(30,6)) END) AS DOUBLE) AS r96
  FROM orders),
gr AS (SELECT round((r97 - r96) / r96, 6) AS g FROM yr),
f AS (
  SELECT ((((((1.0 * (1.0 + g)) * (1.0 + g)) * (1.0 + g)) * (1.0 + g))
           * (1.0 + g)) * (1.0 + g)) AS factor
  FROM gr)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
       round(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             * (SELECT factor FROM f), 2) AS projected_6p
FROM orders
GROUP BY o_orderstatus
"""

QUERIES["sql_scripting_while"] = sql_scripting_while
ORACLE["sql_scripting_while"] = _SQL_SCRIPTING_SQL


def sql_identifier_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IDENTIFIER() clause (Spark 3.4+): table AND column names
    bound from parameters at plan time — templated/multi-tenant SQL
    without string concatenation (injection-safe dynamic DDL-free
    routing). The query names its table and its group-by column
    through IDENTIFIER-bound parameters.

    Oracle: the statically-written equivalent — IDENTIFIER is purely
    a name-resolution feature, so results must be identical.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "ident_orders_view"
    )
    return spark.sql(
        """
        SELECT IDENTIFIER(:col) AS o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               MAX(o_totalprice) AS max_price
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:col)
        ORDER BY o_orderstatus
        """,
        args={"tbl": "ident_orders_view", "col": "o_orderstatus"},
    )


_SQL_IDENTIFIER_SQL = """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
       MAX(o_totalprice) AS max_price
FROM orders GROUP BY 1 ORDER BY 1
"""

QUERIES["sql_identifier_dynamic"] = sql_identifier_dynamic
ORACLE["sql_identifier_dynamic"] = _SQL_IDENTIFIER_SQL


def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE (Spark 4 SQL scripting): run a dynamically
    composed statement with USING-bound parameters — the stored-proc
    style entry point for templated jobs. The inner statement
    aggregates orders above a bound threshold.

    Oracle: the statically-written equivalent; EXECUTE IMMEDIATE is a
    dispatch mechanism, not a semantic change.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("ei_orders_view")
    spark.sql("DECLARE OR REPLACE VARIABLE ei_thr DOUBLE DEFAULT 150000.0")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority,
                  CAST(COUNT(*) AS BIGINT) AS n_orders,
                  MAX(o_totalprice) AS max_price
           FROM ei_orders_view WHERE o_totalprice > ?
           GROUP BY 1 ORDER BY 1'
          USING ei_thr
        """
    )


_SQL_EXEC_IMMEDIATE_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       MAX(o_totalprice) AS max_price
FROM orders WHERE o_totalprice > 150000.0
GROUP BY 1 ORDER BY 1
"""

QUERIES["sql_execute_immediate"] = sql_execute_immediate
ORACLE["sql_execute_immediate"] = _SQL_EXEC_IMMEDIATE_SQL


def fn_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption surface: AES-ECB encrypt customer names
    with a literal key, decrypt them back, and prove the roundtrip is
    the identity (per-segment row counts + max recovered name +
    ciphertext-distinctness check). ECB is used ONLY because the
    roundtrip must be deterministic for the oracle; production
    envelope encryption uses GCM with random IVs (and is therefore
    R-tier by nature).

    Oracle: derivable entirely from the plaintext table — the
    operator's claim IS that decrypt(encrypt(x)) = x.
    """
    key = F.lit("0123456789abcdef")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_name",
        F.expr(
            "aes_decrypt(aes_encrypt(c_name, '0123456789abcdef', 'ECB'),"
            " '0123456789abcdef', 'ECB')"
        ).cast("string").alias("rt_name"),
        F.expr("aes_encrypt(c_name, '0123456789abcdef', 'ECB')").alias("ct"),
    )
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            bcount().alias("n"),
            F.sum((F.col("rt_name") == F.col("c_name")).cast("long"))
            .cast("long")
            .alias("n_roundtrip_ok"),
            F.countDistinct("ct").cast("long").alias("n_distinct_ct"),
            F.max("rt_name").alias("max_name"),
        )
        .orderBy("c_mktsegment")
    )


_AES_ROUNDTRIP_SQL = """
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS n_roundtrip_ok,
       CAST(COUNT(DISTINCT c_name) AS BIGINT) AS n_distinct_ct,
       MAX(c_name) AS max_name
FROM customer GROUP BY 1 ORDER BY 1
"""

QUERIES["fn_aes_roundtrip"] = fn_aes_roundtrip
ORACLE["fn_aes_roundtrip"] = _AES_ROUNDTRIP_SQL


# -- Spark 4.1 TIME type (round 6) ------------------------------------------


def fn_time_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1's SQL TIME data type (gated behind
    spark.sql.timeType.enabled, set sticky here because the returned
    plan executes after this function returns): construct each event's
    time-of-day with make_time, hour-truncate it with time_trunc,
    compare against TIME literals for a business-hours flag, and emit
    string/integer projections (TIME itself stays internal so the
    cross-engine hash is format-independent). Map-only column work —
    whole-stage codegen, no shuffle."""
    spark.conf.set("spark.sql.timeType.enabled", "true")
    ev = load_table(spark, sf_dir, "events")
    t = F.make_time(F.hour("ts"), F.minute("ts"), F.second("ts").cast("double"))
    open_t = F.make_time(F.lit(9), F.lit(0), F.lit(0.0))
    close_t = F.make_time(F.lit(17), F.lit(0), F.lit(0.0))
    return ev.select(
        "event_id",
        t.cast("string").alias("tod"),
        F.time_trunc(F.lit("HOUR"), t).cast("string").alias("tod_hour"),
        (
            F.hour("ts").cast("long") * 3600
            + F.minute("ts").cast("long") * 60
            + F.second("ts").cast("long")
        ).alias("sec_of_day"),
        ((t >= open_t) & (t < close_t)).alias("business_hours"),
    )


_TIME_TYPE_SQL = """
SELECT event_id,
       CAST(make_time(hour(ts), minute(ts), CAST(second(ts) AS DOUBLE))
            AS VARCHAR) AS tod,
       CAST(make_time(hour(ts), 0, 0.0) AS VARCHAR) AS tod_hour,
       CAST(hour(ts) * 3600 + minute(ts) * 60 + second(ts) AS BIGINT)
         AS sec_of_day,
       (make_time(hour(ts), minute(ts), CAST(second(ts) AS DOUBLE))
          >= TIME '09:00:00'
        AND make_time(hour(ts), minute(ts), CAST(second(ts) AS DOUBLE))
          < TIME '17:00:00') AS business_hours
FROM events
"""

QUERIES["fn_time_type"] = fn_time_type
ORACLE["fn_time_type"] = _TIME_TYPE_SQL


def fn_try_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1 fault-tolerant temporal parsing: to_time round-trips
    each event's formatted time-of-day, try_to_time turns a planted
    malformed string into NULL instead of an ANSI error, and
    try_make_timestamp NULLs the half of the rows given an impossible
    month (event_id parity) while reconstructing the other half
    second-exact. All map-only codegen; error tolerance via the try_
    family is what lets a 100 TB parse pass survive dirty rows without
    a job abort."""
    spark.conf.set("spark.sql.timeType.enabled", "true")
    ev = load_table(spark, sf_dir, "events")
    t_str = F.date_format("ts", "HH:mm:ss")
    return ev.select(
        "event_id",
        F.to_time(t_str).cast("string").alias("tod_rt"),
        F.try_to_time(F.concat(F.lit("9"), t_str)).cast("string").alias("bad_parse"),
        F.try_make_timestamp(
            F.year("ts"),
            F.month("ts") + F.lit(20) * (F.col("event_id") % 2).cast("int"),
            F.dayofmonth("ts"),
            F.hour("ts"),
            F.minute("ts"),
            F.second("ts").cast("double"),
        ).cast("string").alias("ts_rt"),
    )


_TRY_TEMPORAL_SQL = """
SELECT event_id,
       CAST(TRY_CAST(strftime(CAST(ts AS TIMESTAMP), '%H:%M:%S') AS TIME)
            AS VARCHAR) AS tod_rt,
       CAST(TRY_CAST('9' || strftime(CAST(ts AS TIMESTAMP), '%H:%M:%S')
            AS TIME) AS VARCHAR) AS bad_parse,
       CASE WHEN event_id % 2 = 1 THEN NULL
            ELSE CAST(date_trunc('second', CAST(ts AS TIMESTAMP)) AS VARCHAR)
       END AS ts_rt
FROM events
"""

QUERIES["fn_try_temporal"] = fn_try_temporal
ORACLE["fn_try_temporal"] = _TRY_TEMPORAL_SQL
