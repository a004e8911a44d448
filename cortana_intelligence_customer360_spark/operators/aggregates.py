"""Aggregation operators (SURVEY.md §2.4).

All aggregates are expressed as declarative groupBy/rollup/cube plans so
Spark performs partial (map-side) aggregation before the shuffle and
whole-stage codegen fuses the pipeline - at 100 TB the shuffle moves
pre-aggregated group states, not raw rows. Float discipline follows
compat.py: exact decimal accumulation for sums/means, closed-form
decimal-backed variance, so results hash-match the DuckDB oracle.

Reference capability mapping: the Cortana Customer-360 solution's
feature engineering is per-customer conditional counts/sums over
clickstream + purchase archives computed in HiveQL/Spark SQL on
HDInsight (SURVEY.md §1.1 [UPSTREAM, recalled]; /root/reference is an
empty checkout - §0). agg_pivot/agg_filtered reproduce that per-category
browsing-count matrix shape on the local events table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..compat import bcount, davg, davg_sql, dsum, dsum_sql, dsum_where_sql, epoch_us, epoch_us_sql
from ..sources.tables import EVENT_TYPES, load_table

_SQ_DEC = T.DecimalType(38, 10)


def _dsum_sq(col):
    """Exact decimal sum of x*x, as double (for closed-form variance)."""
    c = F.col(col)
    return F.sum((c * c).cast(_SQ_DEC)).cast("double")


def _dsum_hi(col):
    """Exact decimal sum with 10 frac digits, as double."""
    return F.sum(F.col(col).cast(_SQ_DEC)).cast("double")


def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: fused filter -> partial agg -> final agg."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            bcount().alias("count_order"),
        )
    )


_AGG_PRICING_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql('l_quantity')} AS sum_qty,
       {dsum_sql('l_extendedprice')} AS sum_base_price,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {davg_sql('l_quantity')} AS avg_qty,
       {davg_sql('l_extendedprice')} AS avg_price,
       {davg_sql('l_discount')} AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def agg_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct custkeys per order status (expand-then-agg plan)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").cast("long").alias("distinct_custkeys"),
        bcount().alias("n_orders"),
    )


_AGG_DISTINCT_SQL = """
SELECT o_orderstatus,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS distinct_custkeys,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY o_orderstatus
"""


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event_type (R-tier: approximate,
    no value oracle; tests assert ±5% of exact). The point at 100 TB:
    constant-memory sketch per group instead of a distinct expansion."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).cast("long").alias("approx_users")
    )


def agg_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch aggregation (R-tier): build a Datasketches HLL
    sketch of distinct users INDEPENDENTLY over two disjoint halves of
    the event stream (early/late by event_id parity here; in production,
    per partition/day), then union the serialized sketches and estimate.

    This is the incremental-aggregation pattern a 100 TB pipeline
    needs: per-chunk sketches are tiny, persistable, and merge without
    re-reading the source — re-aggregation cost is O(sketches), not
    O(events). Tests assert the merged estimate is within 5% of the
    exact distinct count and equals a single-pass sketch's estimate."""
    ev = load_table(spark, sf_dir, "events")
    halves = ev.withColumn("half", F.pmod("event_id", F.lit(2)).cast("int"))
    per_half = halves.groupBy("event_type", "half").agg(
        F.hll_sketch_agg("user_id").alias("sketch")
    )
    return per_half.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch"))
        .cast("long")
        .alias("merged_users"),
        bcount().alias("n_sketches"),
    )


def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment min/max/avg/stddev_samp/var_samp of c_acctbal.

    Variance is computed closed-form from exact decimal sums
    (S2 - S1²/n)/(n-1) so both engines derive the identical double from
    identical operands - no order-dependent accumulation (compat rule 3
    upgraded to exactness)."""
    cu = load_table(spark, sf_dir, "customer")
    n = bcount("c_acctbal")
    s1 = _dsum_hi("c_acctbal")
    s2 = _dsum_sq("c_acctbal")
    var = (s2 - s1 * s1 / n) / (n - F.lit(1))
    return cu.groupBy("c_mktsegment").agg(
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
        davg("c_acctbal").alias("avg_bal"),
        # DuckDB's decimal->double cast can be 1 ulp off correctly-
        # rounded and the (s2 - s1²/n) cancellation amplifies it: round
        # the variance family on both sides (compat rule 3).
        F.round(F.sqrt(var), 6).alias("stddev_bal"),
        F.round(var, 4).alias("var_bal"),
        n.alias("n_customers"),
    )


_AGG_STATS_SQL = f"""
WITH s AS (
  SELECT c_mktsegment,
         MIN(c_acctbal) AS min_bal,
         MAX(c_acctbal) AS max_bal,
         {davg_sql('c_acctbal')} AS avg_bal,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(38,10))) AS DOUBLE) AS s2,
         CAST(COUNT(c_acctbal) AS BIGINT) AS n_customers
  FROM customer GROUP BY c_mktsegment)
SELECT c_mktsegment, min_bal, max_bal, avg_bal,
       round(sqrt((s2 - s1 * s1 / n_customers) / (n_customers - 1)), 6) AS stddev_bal,
       round((s2 - s1 * s1 / n_customers) / (n_customers - 1), 4) AS var_bal,
       n_customers
FROM s
"""


def _orders_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> customer -> nation -> region star join; dims broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by ROLLUP(r_name, n_name) with grouping flags."""
    geo = _orders_geo(spark, sf_dir)
    return geo.rollup("r_name", "n_name").agg(
        dsum("o_totalprice").alias("revenue"),
        bcount().alias("n_orders"),
        F.grouping("r_name").cast("long").alias("g_region"),
        F.grouping("n_name").cast("long").alias("g_nation"),
    )


_AGG_ROLLUP_SQL = f"""
SELECT r_name, n_name,
       {dsum_sql('o_totalprice')} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(GROUPING(r_name) AS BIGINT) AS g_region,
       CAST(GROUPING(n_name) AS BIGINT) AS g_nation
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts by CUBE(o_orderstatus, o_orderpriority)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        bcount().alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_priority"),
    )


_AGG_CUBE_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {dsum_sql('o_totalprice')} AS revenue,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((segment), (nation), ()) over customer."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    # {{cn}} leaves the f-string as {cn}, which spark.sql fills with the frame.
    return spark.sql(
        f"""
        SELECT c_mktsegment, n_name,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               {davg_sql('c_acctbal')} AS avg_bal
        FROM {{cn}}
        GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
        """,
        cn=cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey),
    )


_AGG_GSETS_SQL = f"""
SELECT c_mktsegment, n_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       {davg_sql('c_acctbal')} AS avg_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
"""


def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: sorted list of event types, stringified for the oracle
    hash (compat rule 6 - no arrays in final output)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_list("event_type")), ",").alias("types_sorted"),
        bcount().alias("n_events"),
    )


_AGG_COLLECT_SQL = """
SELECT user_id,
       array_to_string(list_sort(list(event_type)), ',') AS types_sorted,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id
"""


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median/p90) of balance per
    segment. Exact percentile is a sort-based aggregate - fine per
    group here; at 100 TB cardinalities switch to approx_percentile
    (t-digest sketch, mergeable map-side)."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.round(F.percentile("c_acctbal", F.lit(0.5)), 6).alias("median_bal"),
        F.round(F.percentile("c_acctbal", F.lit(0.9)), 6).alias("p90_bal"),
        bcount().alias("n_customers"),
    )


_AGG_PCT_SQL = """
SELECT c_mktsegment,
       round(quantile_cont(c_acctbal, 0.5), 6) AS median_bal,
       round(quantile_cont(c_acctbal, 0.9), 6) AS p90_bal,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer GROUP BY c_mktsegment
"""


def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals via width_bucket: 20
    buckets over [0, 500k] plus the under/overflow buckets - a single
    map-side-combinable aggregate (the profiling primitive for skew
    diagnostics at scale)."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.width_bucket(F.col("o_totalprice"), F.lit(0.0), F.lit(500_000.0), F.lit(20))
    return orders.groupBy(bucket.cast("long").alias("bucket")).agg(
        bcount().alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


# DuckDB 1.0 has no width_bucket; this CASE mirrors Spark's exact
# formula (floor((x-min)/((max-min)/n))+1 with under/overflow clamps),
# with (max-min)/n constant-folded to the identical double 25000.0.
_AGG_HIST_SQL = """
SELECT CAST(CASE WHEN o_totalprice < 0.0 THEN 0
                 WHEN o_totalprice >= 500000.0 THEN 21
                 ELSE FLOOR(o_totalprice / 25000.0) + 1 END AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders GROUP BY 1
"""


def event_type_pivot(events: DataFrame) -> DataFrame:
    """Per-user event-count matrix: one n_<type> column per event_type.

    This is the reference pipeline's per-category browsing-count feature
    block (SURVEY.md §2.4 agg_pivot). Explicit pivot values avoid the
    extra distinct-values job Spark would otherwise run - mandatory at
    100 TB. Map-side partial count, single shuffle on user_id."""
    piv = (
        events.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    return piv.select(
        "user_id", *[F.col(t).cast("long").alias(f"n_{t}") for t in EVENT_TYPES]
    )


def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_type_pivot(load_table(spark, sf_dir, "events"))


def pivot_oracle_sql() -> str:
    cols = ",\n       ".join(
        f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS n_{t}"
        for t in EVENT_TYPES
    )
    return f"SELECT user_id,\n       {cols}\nFROM events GROUP BY user_id"


def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregates (FILTER clause shape): per-user purchase
    value sum, click count, max view value."""
    ev = load_table(spark, sf_dir, "events")
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    return ev.groupBy("user_id").agg(
        F.coalesce(dsum(purchase_val), F.lit(0.0)).alias("purchase_value"),
        F.count(F.when(F.col("event_type") == "click", 1)).cast("long").alias("n_clicks"),
        F.max(F.when(F.col("event_type") == "view", F.col("value"))).alias("max_view_value"),
    )


_AGG_FILTERED_SQL = f"""
SELECT user_id,
       {dsum_where_sql('value', "event_type = 'purchase'")} AS purchase_value,
       CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_clicks,
       MAX(value) FILTER (WHERE event_type = 'view') AS max_view_value
FROM events GROUP BY user_id
"""


def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based quantiles per returnflag (approx_percentile /
    KLL-style). R-tier like agg_approx_distinct: the sketch is
    merge-associative (one map-side-combinable pass at any scale) but
    its exact output depends on merge order, so there is no SQL oracle;
    tests bound the rank error against the exact percentiles."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", [0.25, 0.5, 0.75, 0.95], 1000)
        .alias("price_quantiles")
    ).select(
        "l_returnflag",
        F.col("price_quantiles")[0].alias("p25"),
        F.col("price_quantiles")[1].alias("p50"),
        F.col("price_quantiles")[2].alias("p75"),
        F.col("price_quantiles")[3].alias("p95"),
    )


def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations between lineitem's numeric columns
    per returnflag group - one map-side-combinable pass (corr is
    algebraic: co-moments aggregate associatively). Rounded to 6 dp on
    both engines (compat rule 3: cancellation-amplified float aggregate)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("corr_price_disc"),
        F.round(F.corr("l_quantity", "l_tax"), 6).alias("corr_qty_tax"),
    )


_AGG_CORR_SQL = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(corr(l_extendedprice, l_discount), 6) AS corr_price_disc,
       round(corr(l_quantity, l_tax), 6) AS corr_qty_tax
FROM lineitem GROUP BY 1
"""


def agg_time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup (the continuous-
    aggregate pattern): events aggregate ONCE into 15-minute buckets;
    the 1-hour and 1-day grains then derive FROM THE 15-MINUTE RESULT,
    not from raw data — at 100 TB the raw table is read a single time
    and each coarser grain re-aggregates ~96x fewer rows. Sums stay in
    DECIMAL through every tier (exact re-aggregation, order-free) and
    cast to double only at the output edge.

    The fine grain is MATERIALIZED (scratch parquet) before the coarser
    grains derive from it: Spark does not CSE identical subplans across
    union branches, so without materialization the three grains would
    each rescan raw events (verified: 3 parquet scans) — the exact
    failure the continuous-aggregate pattern exists to avoid. The
    materialized 15-min table is also what serves incremental refresh
    in a real deployment."""
    from ..sources.derived import scratch_dir

    ev = load_table(spark, sf_dir, "events")
    ev.groupBy(
        F.window("ts", "15 minutes").start.alias("b15"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,6)")).alias("sv_dec"),
    ).write.mode("overwrite").parquet(
        scratch_dir("agg_time_bucket_rollup", sf_dir)
    )
    fine = spark.read.parquet(scratch_dir("agg_time_bucket_rollup", sf_dir))
    hour = fine.groupBy(
        F.date_trunc("hour", "b15").alias("b"), "event_type"
    ).agg(F.sum("n_events").cast("long").alias("n_events"), F.sum("sv_dec").alias("sv_dec"))
    day = hour.groupBy(
        F.date_trunc("day", "b").alias("b"), "event_type"
    ).agg(F.sum("n_events").cast("long").alias("n_events"), F.sum("sv_dec").alias("sv_dec"))

    def out(df: DataFrame, grain: str, bucket_col: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            F.unix_micros(F.col(bucket_col)).cast("long").alias("bucket_us"),
            "event_type",
            "n_events",
            F.col("sv_dec").cast("double").alias("sum_value"),
        )

    return (
        out(fine, "15m", "b15").unionAll(out(hour, "1h", "b")).unionAll(out(day, "1d", "b"))
    )


_AGG_TIMEBUCKET_SQL = """
WITH fine AS (
  SELECT time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP)) AS b,
         event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(CAST(value AS DECIMAL(30,6))) AS sv
  FROM events GROUP BY 1, 2),
h AS (
  SELECT time_bucket(INTERVAL 1 HOUR, b) AS b, event_type,
         CAST(SUM(n_events) AS BIGINT) AS n_events, SUM(sv) AS sv
  FROM fine GROUP BY 1, 2),
d AS (
  SELECT time_bucket(INTERVAL 1 DAY, b) AS b, event_type,
         CAST(SUM(n_events) AS BIGINT) AS n_events, SUM(sv) AS sv
  FROM h GROUP BY 1, 2)
SELECT '15m' AS grain, CAST(epoch_us(b) AS BIGINT) AS bucket_us, event_type,
       n_events, CAST(sv AS DOUBLE) AS sum_value FROM fine
UNION ALL
SELECT '1h', CAST(epoch_us(b) AS BIGINT), event_type, n_events,
       CAST(sv AS DOUBLE) FROM h
UNION ALL
SELECT '1d', CAST(epoch_us(b) AS BIGINT), event_type, n_events,
       CAST(sv AS DOUBLE) FROM d
"""


def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median: per returnflag, the smallest
    l_extendedprice whose cumulative l_quantity weight reaches half
    the group total. Cumulative weights accumulate in DECIMAL (exact,
    order-independent within the pinned (price, orderkey, linenumber)
    ordering), so the threshold crossing is identical in both engines.
    One shuffle on the group key; the cumulative window rides the same
    partitioning."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wt = Window.partitionBy("l_returnflag")
    cum = (
        F.sum(F.col("l_quantity").cast("decimal(30,6)"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
    )
    total = F.sum(F.col("l_quantity").cast("decimal(30,6)")).over(wt).cast("double")
    flagged = li.select(
        "l_returnflag",
        "l_extendedprice",
        cum.alias("cum_w"),
        total.alias("total_w"),
    ).where(F.col("cum_w") * 2 >= F.col("total_w"))
    return flagged.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("weighted_median_price")
    )


_WEIGHTED_MEDIAN_SQL = """
WITH c AS (
  SELECT l_returnflag, l_extendedprice,
         CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) OVER (
            PARTITION BY l_returnflag
            ORDER BY l_extendedprice, l_orderkey, l_linenumber
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS cum_w,
         CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) OVER (
            PARTITION BY l_returnflag) AS DOUBLE) AS total_w
  FROM lineitem)
SELECT l_returnflag, MIN(l_extendedprice) AS weighted_median_price
FROM c WHERE cum_w * 2 >= total_w
GROUP BY l_returnflag
"""


def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several COUNT(DISTINCT x) over DIFFERENT columns in one query —
    Catalyst plans this with the Expand operator (one input row fans
    into one row per distinct-aggregate branch, then a two-level
    aggregate). The single-pass-with-expand plan beats N separate
    scans at 100 TB; plain count rides along untouched."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").cast("long").alias("d_cust"),
        F.countDistinct(F.col("o_orderdate").cast("date")).cast("long").alias(
            "d_days"
        ),
        F.countDistinct("o_orderstatus").cast("long").alias("d_status"),
        bcount().alias("n_orders"),
    )


_AGG_MULTI_DISTINCT_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS d_cust,
       CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS d_days,
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS d_status,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event type (most frequent; lexicographically
    smallest wins count ties — engines disagree on native mode() tie
    handling, so the mode is computed as count + max_by over an exact
    integer order). Two shuffles: (user, type) count, then a user-keyed
    single-pass argmax — both map-side-combinable."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(bcount().alias("n"))
    # EVENT_TYPES is sorted; earlier index = lexicographically smaller.
    idx = F.array_position(
        F.array(*[F.lit(t) for t in EVENT_TYPES]), F.col("event_type")
    )
    # Stride len+1 keeps the packed order count-monotonic for ANY
    # number of event types (the tiebreak term is in [1, len]).
    ordv = F.col("n") * (len(EVENT_TYPES) + 1) + (
        F.lit(len(EVENT_TYPES) + 1) - idx
    )
    return counts.groupBy("user_id").agg(
        F.max_by("event_type", ordv).alias("modal_type"),
        F.max("n").cast("long").alias("modal_n"),
    )


def _mode_sql() -> str:
    idx_case = " ".join(
        f"WHEN event_type = '{t}' THEN {i + 1}" for i, t in enumerate(EVENT_TYPES)
    )
    return f"""
WITH counts AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type)
SELECT user_id,
       arg_max(event_type,
               n * {len(EVENT_TYPES) + 1}
                 + ({len(EVENT_TYPES) + 1} - CASE {idx_case} END))
         AS modal_type,
       CAST(MAX(n) AS BIGINT) AS modal_n
FROM counts GROUP BY user_id
"""


def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmaps (bitmap_bit_position /
    bitmap_construct_agg / bitmap_or_agg / bitmap_count) — the
    mergeable-exact complement to the HLL sketch: per (group, bucket)
    bitmaps are small, persistable, and OR-merge without re-reading
    the source, but unlike HLL the merged count is exact. The shape at
    100 TB: dense-int domains (user ids) compress to one bit per id,
    and incremental re-aggregation is bitmap OR, not a distinct
    expansion."""
    ev = load_table(spark, sf_dir, "events")
    # ids are 0-based; bitmap positions are defined for v >= 1, so
    # shift by one (a bijection — distinct counts are unchanged)
    uid1 = F.col("user_id") + 1
    per_bucket = ev.groupBy(
        "event_type", F.bitmap_bucket_number(uid1).alias("bucket")
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position(uid1)).alias("bm"))
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).cast("long").alias("distinct_users"),
        bcount().alias("n_buckets"),
    )


_AGG_BITMAP_SQL = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users,
       CAST(COUNT(DISTINCT user_id // 32768) AS BIGINT) AS n_buckets  -- bucket((uid+1)) = uid//32768 + 1, bijective
FROM events GROUP BY event_type
"""


def stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame stat API: df.stat.crosstab — the exact contingency
    table of mktsegment x orderstatus THROUGH the utility API (one
    pivot-count shuffle under the hood). Column names come from the
    data values; orderstatus domain {F,O,P} is part of the engine
    contract (FIXTURES.md), so the oracle enumerates it."""
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    j = o.join(
        cu.select("c_custkey", "c_mktsegment"),
        o.o_custkey == cu.c_custkey,
    ).select("c_mktsegment", "o_orderstatus")
    ct = j.stat.crosstab("c_mktsegment", "o_orderstatus")
    return ct.select(
        F.col("c_mktsegment_o_orderstatus").alias("mktsegment"),
        *[F.col(s).cast("long").alias(f"n_{s}") for s in ("F", "O", "P")],
    )


_STAT_CROSSTAB_SQL = """
SELECT c_mktsegment AS mktsegment,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_F,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_O,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_P
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def agg_window_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling windows in BATCH mode via Spark's native
    window() TVF — the same grouping construct the streaming queries
    use, applied to at-rest data (backfill/reprocessing path). The TVF
    emits a (start, end) struct; both bounds surface as epoch-µs.

    Oracle: the window start is simply ts truncated to the hour, so
    DuckDB reproduces it with integer arithmetic on epoch-µs."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(bcount().alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            epoch_us("w.start").alias("win_start_us"),
            epoch_us("w.end").alias("win_end_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_HOUR_US = 3_600_000_000

_AGG_WINDOW_TVF_SQL = f"""
WITH e AS (
  SELECT {epoch_us_sql('ts')} AS ts_us, event_type, value FROM events)
SELECT ts_us - ts_us % {_HOUR_US} AS win_start_us,
       ts_us - ts_us % {_HOUR_US} + {_HOUR_US} AS win_end_us,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {dsum_sql('value')} AS sum_value
FROM e GROUP BY 1, 2, 3
"""


def agg_arg_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argument-extrema and boolean aggregates per segment: max_by /
    min_by (which customer holds the extreme balance), bool_and /
    bool_or, count_if — all single-pass JVM aggregates (one shuffle,
    map-side partials).

    max_by needs a totally-ordered argument or ties are engine-defined:
    rank by the exact integer ``round(acctbal*100)*1e8 + custkey``
    (balance cents, custkey tiebreak) so both engines pick the same row
    deterministically."""
    cu = load_table(spark, sf_dir, "customer")
    ordv = (
        F.round(F.col("c_acctbal") * 100).cast("long") * F.lit(100_000_000)
        + F.col("c_custkey")
    )
    return cu.groupBy("c_mktsegment").agg(
        F.max_by("c_name", ordv).alias("richest"),
        F.min_by("c_name", ordv).alias("poorest"),
        F.bool_and(F.col("c_acctbal") > 0).alias("all_positive"),
        F.bool_or(F.col("c_acctbal") < -900).alias("any_deep_negative"),
        F.count_if(F.col("c_acctbal") < 0).cast("long").alias("n_negative"),
    )


_AGG_ARG_EXTREMA_SQL = """
SELECT c_mktsegment,
       arg_max(c_name, CAST(round(c_acctbal*100) AS BIGINT)*100000000 + c_custkey) AS richest,
       arg_min(c_name, CAST(round(c_acctbal*100) AS BIGINT)*100000000 + c_custkey) AS poorest,
       bool_and(c_acctbal > 0) AS all_positive,
       bool_or(c_acctbal < -900) AS any_deep_negative,
       CAST(count_if(c_acctbal < 0) AS BIGINT) AS n_negative
FROM customer GROUP BY c_mktsegment
"""


def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 listagg / string_agg with WITHIN GROUP ordering: the
    SQL:2016 ordered string aggregation (region -> CSV of its nations,
    plus each region's segment-diverse customer count as a sanity
    column). Explicit ORDER BY inside the aggregate is what makes the
    result deterministic and therefore full-oracle-able — an unordered
    listagg would be R-tier by construction.

    Citation: reference checkout is empty (SURVEY.md §0); §2.12
    extension id."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    region.createOrReplaceTempView("v_region_la")
    nation.createOrReplaceTempView("v_nation_la")
    return spark.sql(
        """
        SELECT r.r_name,
               listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name)
                 AS nations_csv,
               CAST(COUNT(*) AS BIGINT) AS n_nations
        FROM v_region_la r JOIN v_nation_la n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """
    )


_LISTAGG_SQL = """
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
       CAST(COUNT(*) AS BIGINT) AS n_nations
FROM region JOIN nation ON n_regionkey = r_regionkey
GROUP BY r_name
"""


QUERIES = {
    "agg_listagg": agg_listagg,
    "agg_multi_distinct": agg_multi_distinct,
    "agg_mode_per_group": agg_mode_per_group,
    "agg_bitmap_distinct": agg_bitmap_distinct,
    "stat_crosstab": stat_crosstab,
    "agg_window_tvf": agg_window_tvf,
    "agg_weighted_median": agg_weighted_median,
    "agg_arg_extrema": agg_arg_extrema,
    "agg_sketch_merge": agg_sketch_merge,
    "agg_time_bucket_rollup": agg_time_bucket_rollup,
    "agg_approx_percentile": agg_approx_percentile,
    "agg_corr_matrix": agg_corr_matrix,
    "agg_pricing_summary": agg_pricing_summary,
    "agg_distinct_count": agg_distinct_count,
    "agg_approx_distinct": agg_approx_distinct,
    "agg_stats": agg_stats,
    "agg_rollup": agg_rollup,
    "agg_cube": agg_cube,
    "agg_grouping_sets": agg_grouping_sets,
    "agg_collect_sorted": agg_collect_sorted,
    "agg_pivot": agg_pivot,
    "agg_filtered": agg_filtered,
    "agg_percentiles": agg_percentiles,
    "agg_histogram": agg_histogram,
}

ORACLE = {
    "agg_listagg": _LISTAGG_SQL,
    "agg_multi_distinct": _AGG_MULTI_DISTINCT_SQL,
    "agg_mode_per_group": _mode_sql(),
    "agg_bitmap_distinct": _AGG_BITMAP_SQL,
    "stat_crosstab": _STAT_CROSSTAB_SQL,
    "agg_window_tvf": _AGG_WINDOW_TVF_SQL,
    "agg_weighted_median": _WEIGHTED_MEDIAN_SQL,
    "agg_arg_extrema": _AGG_ARG_EXTREMA_SQL,
    "agg_corr_matrix": _AGG_CORR_SQL,
    "agg_time_bucket_rollup": _AGG_TIMEBUCKET_SQL,
    "agg_pricing_summary": _AGG_PRICING_SQL,
    "agg_distinct_count": _AGG_DISTINCT_SQL,
    # agg_approx_distinct: R-tier, no SQL oracle (approximate sketch).
    "agg_stats": _AGG_STATS_SQL,
    "agg_rollup": _AGG_ROLLUP_SQL,
    "agg_cube": _AGG_CUBE_SQL,
    "agg_grouping_sets": _AGG_GSETS_SQL,
    "agg_collect_sorted": _AGG_COLLECT_SQL,
    "agg_pivot": pivot_oracle_sql(),
    "agg_filtered": _AGG_FILTERED_SQL,
    "agg_percentiles": _AGG_PCT_SQL,
    "agg_histogram": _AGG_HIST_SQL,
}


def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping_id()/grouping() metadata — the columns that
    make multi-level rollup rows machine-distinguishable (a NULL key
    could be a real NULL or a subtotal; grouping() disambiguates).
    Identical bit-layout contract in both engines: grouping_id =
    (g(returnflag) << 1) | g(linestatus)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
            bcount().alias("n_rows"),
            dsum("l_extendedprice").alias("revenue"),
        )
    )


_AGG_GROUPING_ID_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {dsum_sql('l_extendedprice')} AS revenue
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
"""

QUERIES["agg_grouping_id"] = agg_grouping_id
ORACLE["agg_grouping_id"] = _AGG_GROUPING_ID_SQL


def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment population skewness g1 = m3/m2^1.5 and excess
    kurtosis g2 = m4/m2^2 - 3 of c_acctbal, the two shape moments
    agg_stats stops short of.

    Built-in skewness()/kurtosis() are NOT used deliberately: the two
    engines disagree on bias correction AND accumulate doubles
    order-dependently. Instead the central moments come closed-form
    from exact DECIMAL power sums (S1..S4; per-row powers are identical
    IEEE products before the deterministic decimal cast), so both
    engines evaluate the same expression on identical doubles —
    map-side-combinable, one shuffle, same as agg_stats."""
    cu = load_table(spark, sf_dir, "customer")
    x = F.col("c_acctbal")
    x2 = x * x
    n = bcount("c_acctbal").cast("double")
    s1 = _dsum_hi("c_acctbal")
    s2 = F.sum(x2.cast(_SQ_DEC)).cast("double")
    s3 = F.sum((x2 * x).cast(_SQ_DEC)).cast("double")
    s4 = F.sum((x2 * x2).cast(_SQ_DEC)).cast("double")
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3 = s3 / n - 3.0 * mu * (s2 / n) + 2.0 * mu * mu * mu
    m4 = (
        s4 / n
        - 4.0 * mu * (s3 / n)
        + 6.0 * (mu * mu) * (s2 / n)
        - 3.0 * (mu * mu) * (mu * mu)
    )
    return cu.groupBy("c_mktsegment").agg(
        bcount().alias("n"),
        F.round(m3 / F.sqrt(m2 * m2 * m2), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3.0, 6).alias("excess_kurtosis"),
    )


_AGG_SKEW_SQL = """
WITH s AS (
  SELECT c_mktsegment,
         CAST(COUNT(c_acctbal) AS DOUBLE) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10))) AS DOUBLE) AS s1,
         CAST(SUM(CAST((c_acctbal * c_acctbal) AS DECIMAL(38,10))) AS DOUBLE) AS s2,
         CAST(SUM(CAST(((c_acctbal * c_acctbal) * c_acctbal) AS DECIMAL(38,10))) AS DOUBLE) AS s3,
         CAST(SUM(CAST(((c_acctbal * c_acctbal) * (c_acctbal * c_acctbal)) AS DECIMAL(38,10))) AS DOUBLE) AS s4
  FROM customer GROUP BY c_mktsegment)
SELECT c_mktsegment, n_rows AS n,
       round((s3 / n - 3.0 * (s1 / n) * (s2 / n)
              + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
             / sqrt((s2 / n - (s1 / n) * (s1 / n))
                    * (s2 / n - (s1 / n) * (s1 / n))
                    * (s2 / n - (s1 / n) * (s1 / n))), 6) AS skewness,
       round((s4 / n - 4.0 * (s1 / n) * (s3 / n)
              + 6.0 * ((s1 / n) * (s1 / n)) * (s2 / n)
              - 3.0 * ((s1 / n) * (s1 / n)) * ((s1 / n) * (s1 / n)))
             / ((s2 / n - (s1 / n) * (s1 / n))
                * (s2 / n - (s1 / n) * (s1 / n))) - 3.0, 6) AS excess_kurtosis
FROM s
"""

QUERIES["agg_skew_kurtosis"] = agg_skew_kurtosis
ORACLE["agg_skew_kurtosis"] = _AGG_SKEW_SQL


def agg_geo_harmonic_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic / geometric / harmonic means of positive account
    balances per segment (AM >= GM >= HM, pinned in tests). Neither
    engine's float aggregation order is trusted: the arithmetic mean is
    the exact-decimal davg; GM sums 9-dp-quantized ln(x) in DECIMAL
    then exponentiates once; HM sums 12-dp-quantized reciprocals the
    same way — the feat_kaplan_meier log-space discipline, so the libm
    ln/exp 1-ulp wiggle can never reorder a sum."""
    cu = load_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 0)
    x = F.col("c_acctbal").cast("double")
    ln_q = F.round(F.log(x), 9).cast("decimal(30,9)")
    inv_q = F.round(F.lit(1.0) / x, 12).cast("decimal(30,12)")
    n = bcount()
    return cu.groupBy("c_mktsegment").agg(
        n.alias("n_pos"),
        F.round(davg(x), 6).alias("mean_arith"),
        F.round(
            F.exp(F.sum(ln_q).cast("double") / n.cast("double")), 6
        ).alias("mean_geo"),
        F.round(
            n.cast("double") / F.sum(inv_q).cast("double"), 6
        ).alias("mean_harm"),
    ).orderBy("c_mktsegment")


_AGG_GEO_HARM_SQL = f"""
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_pos,
       round({davg_sql('CAST(c_acctbal AS DOUBLE)')}, 6) AS mean_arith,
       round(exp(CAST(SUM(CAST(round(ln(CAST(c_acctbal AS DOUBLE)), 9)
                              AS DECIMAL(30,9))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE)), 6) AS mean_geo,
       round(CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(CAST(round(1.0 / CAST(c_acctbal AS DOUBLE), 12)
                             AS DECIMAL(30,12))) AS DOUBLE), 6) AS mean_harm
FROM customer
WHERE c_acctbal > 0
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

QUERIES["agg_geo_harmonic_means"] = agg_geo_harmonic_means
ORACLE["agg_geo_harmonic_means"] = _AGG_GEO_HARM_SQL


_SESS_GAP_US = 30 * 60 * 1_000_000


def agg_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time SESSION windows in BATCH mode via Spark's native
    session_window() TVF (30-minute gap) — the dynamic-gap grouping
    construct the streaming path uses (stream_session_window), applied
    to at-rest data for backfill/reprocessing, so batch and streaming
    sessionization share ONE definition. Emits per (user, session):
    start/end epoch-µs and the event count.

    Oracle: session_window's semantics are reproduced with the classic
    gaps-and-islands rewrite — a new session starts when the gap from
    the previous event exceeds 30 min; end = last event + gap. All
    integer epoch-µs arithmetic, so the match is exact.

    Shape: one user-keyed shuffle; the TVF merges sessions inside the
    aggregation (no self-join), which is what makes it the 100 TB
    sessionizer — state is bounded by open sessions per user.
    """
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        bcount().alias("n_events")
    )
    return agg.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).cast("long").alias("start_us"),
        F.unix_micros(F.col("session_window.end")).cast("long").alias("end_us"),
        "n_events",
    ).orderBy("user_id", "start_us")


_SESSION_BATCH_SQL = f"""
WITH ev AS (
  SELECT user_id, {epoch_us_sql('ts')} AS us FROM events),
marked AS (
  SELECT user_id, us,
         CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us)
                   > {_SESS_GAP_US} OR
                   LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM ev),
grp AS (
  SELECT user_id, us,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM marked)
SELECT user_id,
       CAST(MIN(us) AS BIGINT) AS start_us,
       CAST(MAX(us) + {_SESS_GAP_US} AS BIGINT) AS end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM grp
GROUP BY user_id, sess
ORDER BY user_id, start_us
"""

QUERIES["agg_session_window_batch"] = agg_session_window_batch
ORACLE["agg_session_window_batch"] = _SESSION_BATCH_SQL


_HOP_SLIDE_US = 15 * 60 * 1_000_000
_HOP_LEN_US = 60 * 60 * 1_000_000
_HOP_K = _HOP_LEN_US // _HOP_SLIDE_US  # windows covering each event


def agg_hopping_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows in BATCH mode via the
    window() TVF with a slide — 1-hour windows every 15 minutes, so
    each event lands in exactly 4 overlapping windows (the smoothing
    readout dashboards want; tumbling is the slide = length special
    case already covered by agg_window_tvf).

    Oracle: Spark aligns hop starts to epoch multiples of the slide,
    so the 4 covering windows are start = (ts DIV slide - k) * slide
    for k = 0..3 — exact integer arithmetic cross-joined against a
    4-row offset table.

    Shape: the TVF's explode is map-side (4x row fan-out before the
    partial agg), then one shuffle on (window, type) — the fan-out
    factor is the constant length/slide ratio, never data-dependent.
    """
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "15 minutes")
    agg = ev.groupBy(win.alias("w"), "event_type").agg(
        bcount().alias("n_events")
    )
    return agg.select(
        F.unix_micros(F.col("w.start")).cast("long").alias("start_us"),
        "event_type",
        "n_events",
    ).orderBy("start_us", "event_type")


_HOPPING_SQL = f"""
WITH ev AS (
  SELECT {epoch_us_sql('ts')} AS us, event_type FROM events),
hops AS (
  SELECT (us // {_HOP_SLIDE_US} - k.k) * {_HOP_SLIDE_US} AS start_us,
         event_type
  FROM ev CROSS JOIN (SELECT UNNEST(range({_HOP_K})) AS k) k)
SELECT CAST(start_us AS BIGINT) AS start_us, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM hops
GROUP BY 1, 2
ORDER BY start_us, event_type
"""

QUERIES["agg_hopping_window_batch"] = agg_hopping_window_batch
ORACLE["agg_hopping_window_batch"] = _HOPPING_SQL


_CONC_HOLD_DAYS = 7
_CONC_TOPK = 10


def agg_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-concurrency sweep line: treating each order as active
    for 7 days, the running (+starts, -expiries) balance gives the
    number of simultaneously active orders per day; report the top-10
    busiest days — the capacity-planning primitive (max concurrent
    sessions/jobs/holds) computed without ever joining intervals.

    Shape: one groupBy(day) collapse emits starts; expiries are the
    same counts shifted 7 days (a projection, not a second scan via
    self-union of +1/-1 deltas on the bounded daily frame); the
    running sum is exact integer arithmetic over that frame.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.date_trunc("day", "o_orderdate").cast("date").alias("day"))
        .agg(bcount().alias("starts"))
    )
    deltas = daily.select("day", F.col("starts").alias("delta")).unionByName(
        daily.select(
            F.date_add("day", _CONC_HOLD_DAYS).alias("day"),
            (-F.col("starts")).alias("delta"),
        )
    )
    merged = deltas.groupBy("day").agg(F.sum("delta").cast("long").alias("delta"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    conc = merged.withColumn("concurrent", F.sum("delta").over(w))
    return (
        conc.select(F.col("day").cast("string").alias("day"), "concurrent")
        .orderBy(F.col("concurrent").desc(), F.col("day").asc())
        .limit(_CONC_TOPK)
    )


_CONCURRENCY_SQL = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS starts
  FROM orders GROUP BY 1),
deltas AS (
  SELECT day, starts AS delta FROM daily
  UNION ALL
  SELECT day + INTERVAL {_CONC_HOLD_DAYS} DAY, -starts FROM daily),
merged AS (
  SELECT CAST(day AS DATE) AS day, CAST(SUM(delta) AS BIGINT) AS delta
  FROM deltas GROUP BY 1),
conc AS (
  SELECT day, SUM(delta) OVER (ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS concurrent
  FROM merged)
SELECT CAST(day AS VARCHAR) AS day, CAST(concurrent AS BIGINT) AS concurrent
FROM conc
ORDER BY concurrent DESC, day ASC
LIMIT {_CONC_TOPK}
"""

QUERIES["agg_interval_concurrency"] = agg_interval_concurrency
ORACLE["agg_interval_concurrency"] = _CONCURRENCY_SQL


_PI_BASE_YEAR = 1996
_PI_CURR_YEAR = 1997


def agg_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres and Paasche price indexes between 1996 and 1997 per
    market segment: L = S(p1 q0)/S(p0 q0) (base-period basket), P =
    S(p1 q1)/S(p0 q1) (current basket), plus Fisher's geometric mean —
    the FP&A inflation decomposition over matched parts (parts traded
    in BOTH years by the segment).

    Per-(segment, part, year) unit prices are DECIMAL-exact sum
    ratios rounded 6 dp; the index sums are anchored products of those
    quantized prices with integer quantities — everything engine-
    stable, two fact shuffles (orderkey join, then the group collapse).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("yr")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("yr").isin(_PI_BASE_YEAR, _PI_CURR_YEAR))
        .groupBy(F.col("c_mktsegment").alias("seg"), "l_partkey", "yr")
        .agg(
            dsum("l_quantity").alias("q"),
            dsum("l_extendedprice").alias("v"),
        )
        .select(
            "seg",
            "l_partkey",
            "yr",
            "q",
            F.round(F.col("v") / F.col("q"), 6).alias("p"),
        )
    )
    b0 = base.where(F.col("yr") == _PI_BASE_YEAR).select(
        "seg", "l_partkey", F.col("q").alias("q0"), F.col("p").alias("p0")
    )
    b1 = base.where(F.col("yr") == _PI_CURR_YEAR).select(
        "seg", "l_partkey", F.col("q").alias("q1"), F.col("p").alias("p1")
    )
    m = b0.join(b1, ["seg", "l_partkey"])
    suff = m.groupBy("seg").agg(
        bcount().alias("n_parts"),
        dsum(F.col("p1") * F.col("q0")).alias("l_num"),
        dsum(F.col("p0") * F.col("q0")).alias("l_den"),
        dsum(F.col("p1") * F.col("q1")).alias("p_num"),
        dsum(F.col("p0") * F.col("q1")).alias("p_den"),
    )
    return suff.select(
        "seg",
        "n_parts",
        F.round(F.expr("l_num / l_den"), 6).alias("laspeyres"),
        F.round(F.expr("p_num / p_den"), 6).alias("paasche"),
        F.round(F.expr("sqrt((l_num / l_den) * (p_num / p_den))"), 6).alias(
            "fisher"
        ),
    ).orderBy("seg")


_PRICE_INDEX_SQL = f"""
WITH base AS (
  SELECT c.c_mktsegment AS seg, l.l_partkey, year(o.o_orderdate) AS yr,
         {dsum_sql('l.l_quantity')} AS q,
         round({dsum_sql('l.l_extendedprice')} / {dsum_sql('l.l_quantity')}, 6)
           AS p
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE year(o.o_orderdate) IN ({_PI_BASE_YEAR}, {_PI_CURR_YEAR})
  GROUP BY 1, 2, 3),
m AS (
  SELECT b0.seg, b0.q AS q0, b0.p AS p0, b1.q AS q1, b1.p AS p1
  FROM base b0
  JOIN base b1 ON b0.seg = b1.seg AND b0.l_partkey = b1.l_partkey
  WHERE b0.yr = {_PI_BASE_YEAR} AND b1.yr = {_PI_CURR_YEAR}),
suff AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_parts,
         {dsum_sql('p1 * q0')} AS l_num,
         {dsum_sql('p0 * q0')} AS l_den,
         {dsum_sql('p1 * q1')} AS p_num,
         {dsum_sql('p0 * q1')} AS p_den
  FROM m GROUP BY seg)
SELECT seg, n_parts,
       round(l_num / l_den, 6) AS laspeyres,
       round(p_num / p_den, 6) AS paasche,
       round(sqrt((l_num / l_den) * (p_num / p_den)), 6) AS fisher
FROM suff
ORDER BY seg
"""

QUERIES["agg_price_index"] = agg_price_index
ORACLE["agg_price_index"] = _PRICE_INDEX_SQL


_MP_SWEEPS = 2


def agg_median_polish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey median polish of the segment x year revenue matrix: two
    sweeps of alternating row/column median removal decompose each
    cell into overall + segment effect + year effect + residual — the
    robust two-way ANOVA (outlier cells can't drag the effects the way
    means would). Emits one row per cell with its residual and the
    fitted effects.

    The matrix is 5 segments x 7 years — both dimensions ODD, so every
    median is an exact middle element of integer cents and the whole
    polish is exact integer arithmetic (no float anywhere until the
    final display division by 100). The fact table collapses to the 35
    cells in one shuffle; sweeps run on that tiny frame via sorted-
    array medians.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        load_table(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .where(F.year("o_orderdate").between(1995, 2001))
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.year("o_orderdate").cast("long").alias("yr"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("resid")
        )
        .withColumn("row_eff", F.lit(0).cast("long"))
        .withColumn("col_eff", F.lit(0).cast("long"))
        .localCheckpoint()
    )

    def med_of(df, key, val):
        # exact middle element of the sorted (odd-length) list
        return df.groupBy(key).agg(
            F.element_at(
                F.array_sort(F.collect_list(val)),
                ((F.size(F.collect_list(val)) + 1) / 2).cast("int"),
            )
            .cast("long")
            .alias("med")
        )

    for _ in range(_MP_SWEEPS):
        rmed = med_of(cells, "seg", "resid").withColumnRenamed("med", "rm")
        cells = (
            cells.join(F.broadcast(rmed), "seg")
            .select(
                "seg",
                "yr",
                (F.col("resid") - F.col("rm")).alias("resid"),
                (F.col("row_eff") + F.col("rm")).alias("row_eff"),
                "col_eff",
            )
            .localCheckpoint()
        )
        cmed = med_of(cells, "yr", "resid").withColumnRenamed("med", "cm")
        cells = (
            cells.join(F.broadcast(cmed), "yr")
            .select(
                "seg",
                "yr",
                (F.col("resid") - F.col("cm")).alias("resid"),
                "row_eff",
                (F.col("col_eff") + F.col("cm")).alias("col_eff"),
            )
            .localCheckpoint()
        )
    return cells.select(
        "seg",
        "yr",
        (F.col("resid") / F.lit(100.0)).alias("residual"),
        (F.col("row_eff") / F.lit(100.0)).alias("segment_effect"),
        (F.col("col_eff") / F.lit(100.0)).alias("year_effect"),
    ).orderBy("seg", "yr")


def _median_polish_sql() -> str:
    ctes = [
        """c0 AS (
  SELECT c.c_mktsegment AS seg, CAST(year(o.o_orderdate) AS BIGINT) AS yr,
         CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS resid,
         CAST(0 AS BIGINT) AS row_eff, CAST(0 AS BIGINT) AS col_eff
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE year(o.o_orderdate) BETWEEN 1995 AND 2001
  GROUP BY 1, 2)"""
    ]
    cur = "c0"
    step = 0
    for _ in range(_MP_SWEEPS):
        step += 1
        ctes.append(
            f"""r{step} AS (
  SELECT seg, CAST(list_sort(list(resid))[(len(list(resid)) + 1) // 2]
       AS BIGINT) AS rm
  FROM {cur} GROUP BY seg),
cr{step} AS (
  SELECT c.seg, c.yr, c.resid - r.rm AS resid,
         c.row_eff + r.rm AS row_eff, c.col_eff
  FROM {cur} c JOIN r{step} r ON c.seg = r.seg)"""
        )
        cur = f"cr{step}"
        ctes.append(
            f"""k{step} AS (
  SELECT yr, CAST(list_sort(list(resid))[(len(list(resid)) + 1) // 2]
       AS BIGINT) AS cm
  FROM {cur} GROUP BY yr),
ck{step} AS (
  SELECT c.seg, c.yr, c.resid - k.cm AS resid,
         c.row_eff, c.col_eff + k.cm AS col_eff
  FROM {cur} c JOIN k{step} k ON c.yr = k.yr)"""
        )
        cur = f"ck{step}"
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT seg, yr,
       CAST(resid AS DOUBLE) / 100.0 AS residual,
       CAST(row_eff AS DOUBLE) / 100.0 AS segment_effect,
       CAST(col_eff AS DOUBLE) / 100.0 AS year_effect
FROM {cur}
ORDER BY seg, yr
"""
    )


QUERIES["agg_median_polish"] = agg_median_polish
ORACLE["agg_median_polish"] = _median_polish_sql()


def agg_supplier_hhi_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-base concentration trend: the Herfindahl-Hirschman index
    of supplier revenue shares per year (x10000, the antitrust
    convention) plus the effective number of suppliers 1/sum(s^2) —
    'is our spend consolidating into fewer suppliers?'.

    Per-(year, supplier) revenue from DECIMAL sums; shares are
    identical quotients both engines; share^2 terms are tiny (< 1), so
    DECIMAL quantization is trivially safe. One orderkey join + one
    (year, supplier) collapse.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("yr")
    )
    per = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("yr", "l_suppkey")
        .agg(dsum("l_extendedprice").alias("rev"))
    )
    tot = per.groupBy("yr").agg(dsum("rev").alias("tot"))
    shares = per.join(tot, "yr").select(
        "yr", F.round(F.expr("rev / tot"), 9).alias("s")
    )
    return (
        shares.groupBy("yr")
        .agg(
            bcount().alias("n_suppliers"),
            F.round(dsum(F.col("s") * F.col("s")) * 10000.0, 6).alias("hhi"),
        )
        .withColumn(
            "effective_suppliers",
            F.round(F.expr("10000.0 / hhi"), 6),
        )
        .orderBy("yr")
    )


_HHI_TREND_SQL = f"""
WITH per AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr, l.l_suppkey,
         {dsum_sql('l.l_extendedprice')} AS rev
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2),
tot AS (SELECT yr, {dsum_sql('rev')} AS tot FROM per GROUP BY yr),
shares AS (
  SELECT per.yr, round(rev / tot, 9) AS s
  FROM per JOIN tot ON per.yr = tot.yr)
SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       round({dsum_sql('s * s')} * 10000.0, 6) AS hhi,
       round(10000.0 / round({dsum_sql('s * s')} * 10000.0, 6), 6)
         AS effective_suppliers
FROM shares
GROUP BY yr
ORDER BY yr
"""

QUERIES["agg_supplier_hhi_trend"] = agg_supplier_hhi_trend
ORACLE["agg_supplier_hhi_trend"] = _HHI_TREND_SQL


def agg_regr_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag linear-regression aggregates of extendedprice on
    quantity: the SQL:2016 ``regr_*`` family (slope, intercept, r²,
    count, mean-x, mean-y) that every BI tool's trendline compiles to.

    Spark 3.3+ ships regr_slope/regr_intercept/regr_r2 natively, but
    their double accumulation is partition-order-dependent — so, per
    compat rule 3-upgraded-to-exactness (see agg_stats), both engines
    derive the moments from exact DECIMAL sums and apply the identical
    closed form; the results equal the builtins to ~1e-9 (asserted in
    tests/test_round8.py against F.regr_slope at sf0.001). One
    map-side-combined shuffle on a 3-value key; the moment sums are
    the same single pass at any scale."""
    li = load_table(spark, sf_dir, "lineitem")

    # r12 (verdict-11 item 4, guide §4.1): five DECIMAL(38,10) sums ran
    # as boxed Int128 hash aggregation outside codegen. The three
    # NARROW moments convert to exact LONG sums (codegen):
    # - l_quantity is an exact integer 1..50 -> sum < 2e13 even at
    #   100 TB (~3.9e11 rows in the largest returnflag group);
    # - qty² <= 2500 -> sum < 1e15;
    # - l_extendedprice's decimal(38,10) cast equals its exact CENT
    #   value (double error < 5e-11 at 1e5 magnitudes, rounded away at
    #   scale 10), so sum(cents) < 4.1e18 fits a LONG with 2.2x
    #   headroom at 100 TB; the exact decimal is reconstructed on the
    #   3-row result before the double cast, so every emitted double is
    #   bit-identical (verified at all three SFs, hash MATCH vs the
    #   unchanged oracle).
    # sxy/syy CANNOT convert: their scale-10 per-row integers reach
    # 1.1e20, and the base-1e7 three-limb LONG split that keeps
    # exactness was implemented and MEASURED 3.3x slower than the boxed
    # decimal sum (per-row Int128 limb extraction costs more than the
    # boxed aggregation saves — OPTIMIZATION_r12.md §
    # agg_regr_family), so the two wide sums stay decimal: that is the
    # exactness contract at minimum measured cost.
    dec = "decimal(38,10)"
    q, pr = F.col("l_quantity"), F.col("l_extendedprice")
    raw = li.groupBy("l_returnflag").agg(
        bcount().alias("n"),
        F.sum(q.cast("long")).alias("sx_i"),
        F.sum(F.round(pr * 100, 0).cast("long")).alias("sy_c"),
        F.sum((q * q).cast("long")).alias("sxx_i"),
        F.sum((q * pr).cast(dec)).cast("double").alias("sxy"),
        F.sum((pr * pr).cast(dec)).cast("double").alias("syy"),
    )
    moments = raw.select(
        "l_returnflag",
        "n",
        F.col("sx_i").cast("double").alias("sx"),
        (F.col("sy_c").cast("decimal(20,0)") / F.lit(100))
        .cast("double")
        .alias("sy"),
        F.col("sxx_i").cast("double").alias("sxx"),
        "sxy",
        "syy",
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cov_n = F.col("sxy") - sx * sy / n
    varx_n = F.col("sxx") - sx * sx / n
    vary_n = F.col("syy") - sy * sy / n
    return moments.select(
        "l_returnflag",
        n.alias("regr_n"),
        F.round(cov_n / varx_n, 6).alias("slope"),
        F.round(sy / n - (cov_n / varx_n) * (sx / n), 6).alias("intercept"),
        F.round(cov_n * cov_n / (varx_n * vary_n), 6).alias("r2"),
        F.round(sx / n, 6).alias("avg_x"),
        F.round(sy / n, 6).alias("avg_y"),
    )


_REGR_SQL = """
WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,10)))
           AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,10)))
           AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,10)))
           AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag,
       n AS regr_n,
       round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS slope,
       round(sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * (sx / n),
             6) AS intercept,
       round((sxy - sx * sy / n) * (sxy - sx * sy / n)
             / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS r2,
       round(sx / n, 6) AS avg_x,
       round(sy / n, 6) AS avg_y
FROM m
"""

QUERIES["agg_regr_family"] = agg_regr_family
ORACLE["agg_regr_family"] = _REGR_SQL


def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native approx_top_k sketch (Spark 4.1) over the event-type
    stream, exploded to (item, count) rows. k equals the full domain
    cardinality (5) and the default sketch capacity (10000) dwarfs it,
    so the sketch degenerates to EXACT counts — which is what makes a
    full O-tier oracle legitimate here (the same reasoning as
    dedup_minhash's capped-band exactness). On a true heavy-hitter
    domain the op is unchanged; only the oracle would weaken to
    R-tier. Single map-side-combinable aggregate, no shuffle beyond
    the one-row sketch merge."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "atk_events"
    )
    return spark.sql(
        """
        SELECT t.item AS event_type, CAST(t.count AS BIGINT) AS n
        FROM (SELECT inline(approx_top_k(event_type, 5)) AS (item, count)
              FROM atk_events) t
        """
    )


_APPROX_TOP_K_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY event_type
"""

QUERIES["agg_approx_top_k"] = agg_approx_top_k
ORACLE["agg_approx_top_k"] = _APPROX_TOP_K_SQL
