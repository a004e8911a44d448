"""Join operators (SURVEY.md §2.3): all eight SQL join shapes plus the
non-equi, as-of, and interval joins a feature store needs.

Physical strategy is Catalyst/AQE's call (sort-merge vs broadcast vs
shuffled-hash); we hint ``F.broadcast`` where a side is known-small and
assert the resulting plans in tests/test_plans.py. The as-of join is
the one operator Spark SQL lacks natively - implemented as the
union-merge pattern (one shuffle, no expanding join), which is the
shape that survives 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..compat import bcount, dsum, dsum_sql, epoch_us
from ..session import session_conf
from ..sources.derived import build_once, scratch_dir
from ..sources.tables import load_table


def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return orders.join(cust, orders.o_custkey == cust.c_custkey, "inner").select(
        "o_orderkey", "c_custkey", "c_name", "o_totalprice"
    )


_INNER_SQL = """
SELECT o_orderkey, c_custkey, c_name, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
"""


def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customers keep their row; orderless customers get nulls."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


_LEFT_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_totalprice
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
"""


def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders preserved; customer side filtered so some orders dangle."""
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 8000)
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "right").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name"
    )


_RIGHT_SQL = """
SELECT o_orderkey, o_totalprice, c_custkey, c_name
FROM (SELECT * FROM customer WHERE c_acctbal > 8000) c
RIGHT JOIN orders ON c_custkey = o_custkey
"""


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer: every customer and every big order, matched or not."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "full").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


_FULL_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_totalprice
FROM customer
FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
  ON c_custkey = o_custkey
"""


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having at least one 'F'-status order (EXISTS shape)."""
    cust = load_table(spark, sf_dir, "customer")
    f_orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return cust.join(
        f_orders, cust.c_custkey == f_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_acctbal")


_SEMI_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
"""


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders at all (NOT EXISTS shape)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


_ANTI_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact x broadcast(dim): no shuffle of the lineitem side at all -
    the dim ships to every executor. Asserted BroadcastHashJoin in
    tests/test_plans.py."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    return li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_orderkey", "l_linenumber", "p_name", "p_retailprice", "l_quantity"
    )


_BROADCAST_SQL = """
SELECT l_orderkey, l_linenumber, p_name, p_retailprice, l_quantity
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#1'
"""


def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of the two tiny dims."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return region.crossJoin(nation).select("r_name", "n_name")


_CROSS_SQL = "SELECT r_name, n_name FROM region CROSS JOIN nation"


def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi self-join: pairs of events of the same user where the
    second follows the first by at most 5 minutes. The equi conjunct
    (user_id) keys the shuffle; the range is a post-join band filter -
    Spark plans equi+range as a sort-merge join with band condition."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("a_id"),
        epoch_us("ts").alias("a_us"),
    )
    b = ev.select(
        F.col("user_id").alias("u2"),
        F.col("event_id").alias("b_id"),
        epoch_us("ts").alias("b_us"),
    )
    pair = a.join(
        b,
        (F.col("u") == F.col("u2"))
        & (F.col("b_us") > F.col("a_us"))
        & (F.col("b_us") - F.col("a_us") <= 5 * 60 * 1_000_000),
    )
    return pair.select("u", "a_id", "b_id", (F.col("b_us") - F.col("a_us")).alias("gap_us"))


_THETA_SQL = """
SELECT a.user_id AS u, a.event_id AS a_id, b.event_id AS b_id,
       epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND epoch_us(b.ts) > epoch_us(a.ts)
 AND epoch_us(b.ts) - epoch_us(a.ts) <= 5 * 60 * 1000000
"""


def asof_enrich(events: DataFrame, orders: DataFrame) -> DataFrame:
    """Point-in-time (as-of) join: each event gets the user's most
    recent order with o_orderdate <= ts (ties on date broken by max
    o_orderkey); events with no prior order keep nulls.

    Implemented as the union-merge pattern: tag both sides, sort each
    user's timeline once, and carry the last seen order forward with
    last(ignorenulls) over the running window. ONE shuffle on the user
    key and no expanding event x order intermediate - this is the
    feature-store primitive shape that survives 100 TB (a naive
    join+row_number materializes |events| x |orders-per-user| rows).
    """
    o = orders.select(
        F.col("o_custkey").alias("user_id"),
        epoch_us("o_orderdate").alias("t_us"),
        F.lit(0).alias("is_event"),
        F.col("o_orderkey"),
        F.col("o_totalprice"),
        F.lit(None).cast("long").alias("event_id"),
    )
    e = events.select(
        "user_id",
        epoch_us("ts").alias("t_us"),
        F.lit(1).alias("is_event"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.col("event_id"),
    )
    # Order rows sort before event rows at equal t (<= semantics); among
    # equal-date orders the LAST carried forward is max o_orderkey.
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "is_event", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = o.unionByName(e).select(
        "user_id",
        "t_us",
        "is_event",
        "event_id",
        F.last("o_orderkey", ignorenulls=True).over(w).alias("asof_orderkey"),
        F.last("o_totalprice", ignorenulls=True).over(w).alias("asof_totalprice"),
    )
    return merged.where(F.col("is_event") == 1).select(
        "event_id",
        "user_id",
        F.col("t_us").alias("ts_us"),
        "asof_orderkey",
        "asof_totalprice",
    )


def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    return asof_enrich(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "orders")
    )


_ASOF_SQL = """
WITH matched AS (
  SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
         o.o_orderkey, o.o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e
  JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
SELECT event_id, user_id, ts_us,
       o_orderkey AS asof_orderkey, o_totalprice AS asof_totalprice
FROM matched WHERE rn = 1
UNION ALL
SELECT e.event_id, e.user_id, epoch_us(e.ts), NULL, NULL
FROM events e
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
"""


def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: lineitems shipped within [o_orderdate,
    o_orderdate + 7d) of their own order; orders with none keep 0.
    Equi key (orderkey) drives the shuffle; the interval is a residual
    band predicate."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    in_window = li.join(
        orders,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate < F.date_add(orders.o_orderdate, 7)),
    ).groupBy("o_orderkey").agg(bcount().alias("n_shipped_7d"))
    return orders.join(in_window, "o_orderkey", "left").select(
        "o_orderkey",
        F.coalesce("n_shipped_7d", F.lit(0)).cast("long").alias("n_shipped_7d"),
    )


_INTERVAL_SQL = """
SELECT o.o_orderkey,
       CAST(COALESCE(COUNT(l.l_orderkey), 0) AS BIGINT) AS n_shipped_7d
FROM orders o
LEFT JOIN lineitem l
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
GROUP BY o.o_orderkey
"""


def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free co-located join: both sides written Hive-bucketed
    on the join key (shuffle paid once at write time), then sort-merge
    joined with ZERO Exchange nodes - the amortization pattern for
    fact-to-fact joins repeated across a 100 TB pipeline DAG. Result
    equals the plain join (oracle); the plan shape is asserted in
    tests/test_scale.py."""
    from ..plans.scale import bucketed_join, write_bucketed

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    write_bucketed(
        orders,
        f"c360_orders_b_{tag}",
        "o_custkey",
        n_buckets=8,
        path=scratch_dir(f"bucketed_orders_{tag}", sf_dir),
    )
    write_bucketed(
        cust,
        f"c360_cust_b_{tag}",
        "o_custkey",
        n_buckets=8,
        path=scratch_dir(f"bucketed_cust_{tag}", sf_dir),
    )
    joined = bucketed_join(
        spark, f"c360_orders_b_{tag}", f"c360_cust_b_{tag}", "o_custkey"
    )
    return joined.groupBy("c_mktsegment").agg(
        dsum("o_totalprice").alias("revenue"), bcount().alias("n_orders")
    )


_BUCKETED_SQL = f"""
SELECT c_mktsegment,
       {dsum_sql('o_totalprice')} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def feat_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: the 15 part-type pairs most often bought
    together in one order (the retail cross-sell signal the reference's
    Customer-360 dashboards surface). Self-join on the order key after
    collapsing to distinct (order, type) - the pair space is bounded by
    the type vocabulary, not the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    order_types = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_type")
        .distinct()
    )
    a = order_types.select(F.col("l_orderkey").alias("k"), F.col("p_type").alias("type_a"))
    b = order_types.select(F.col("l_orderkey").alias("k2"), F.col("p_type").alias("type_b"))
    pairs = a.join(b, (F.col("k") == F.col("k2")) & (F.col("type_a") < F.col("type_b")))
    return (
        pairs.groupBy("type_a", "type_b")
        .agg(bcount().alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), F.col("type_a").asc(), F.col("type_b").asc())
        .limit(15)
    )


_BASKET_SQL = """
WITH ot AS (
  SELECT DISTINCT l_orderkey, p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey)
SELECT a.p_type AS type_a, b.p_type AS type_b,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM ot a JOIN ot b ON a.l_orderkey = b.l_orderkey AND a.p_type < b.p_type
GROUP BY 1, 2
ORDER BY n_orders DESC, type_a ASC, type_b ASC
LIMIT 15
"""


def feat_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the part-type baskets: support,
    confidence (both directions) and lift for every co-bought type
    pair — the full market-basket readout on top of
    feat_basket_affinity's raw counts. The distinct (order, type)
    frame is checkpointed once (pair expansion AND single-type counts
    read it); every derived table is vocabulary-bounded, so all the
    rule arithmetic runs on aggregates of <= |types|² rows."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ot = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_type")
        .distinct()
        .localCheckpoint()
    )
    n_orders = ot.select("l_orderkey").distinct().count()
    singles = ot.groupBy("p_type").agg(bcount().alias("n_single"))
    a = ot.select(F.col("l_orderkey").alias("k"), F.col("p_type").alias("type_a"))
    b = ot.select(F.col("l_orderkey").alias("k2"), F.col("p_type").alias("type_b"))
    pairs = (
        a.join(b, (F.col("k") == F.col("k2")) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(bcount().alias("n_ab"))
    )
    sa = singles.select(F.col("p_type").alias("type_a"), F.col("n_single").alias("n_a"))
    sb = singles.select(F.col("p_type").alias("type_b"), F.col("n_single").alias("n_b"))
    n = F.lit(n_orders).cast("double")
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(F.col("n_ab") / n, 6).alias("support"),
            F.round(F.col("n_ab") / F.col("n_a").cast("double"), 6).alias("conf_a_b"),
            F.round(F.col("n_ab") / F.col("n_b").cast("double"), 6).alias("conf_b_a"),
            F.round(
                F.col("n_ab") * n / (F.col("n_a") * F.col("n_b")).cast("double"), 6
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("type_a").asc(), F.col("type_b").asc())
    )


_BASKET_RULES_SQL = """
WITH ot AS (
  SELECT DISTINCT l_orderkey, p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_orders FROM ot),
singles AS (
  SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n_single FROM ot GROUP BY p_type),
pairs AS (
  SELECT a.p_type AS type_a, b.p_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM ot a JOIN ot b ON a.l_orderkey = b.l_orderkey AND a.p_type < b.p_type
  GROUP BY 1, 2)
SELECT type_a, type_b, n_ab,
       sa.n_single AS n_a, sb.n_single AS n_b,
       ROUND(n_ab / n_orders, 6) AS support,
       ROUND(n_ab / CAST(sa.n_single AS DOUBLE), 6) AS conf_a_b,
       ROUND(n_ab / CAST(sb.n_single AS DOUBLE), 6) AS conf_b_a,
       ROUND(n_ab * n_orders / CAST(sa.n_single * sb.n_single AS DOUBLE), 6)
         AS lift
FROM pairs
JOIN singles sa ON sa.p_type = type_a
JOIN singles sb ON sb.p_type = type_b
CROSS JOIN n
ORDER BY lift DESC, type_a ASC, type_b ASC
"""


_ASOF_TOL_US = 30 * 86_400_000_000  # 30-day merge_asof tolerance, µs


def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a 30-day tolerance (merge_asof(tolerance=...)):
    the most recent prior order still matches ONLY if it happened
    within the window — stale matches null out, which is what a
    leakage-safe feature wants from months-old context. Same union-
    merge single-shuffle shape as join_asof, carrying the matched
    order's own timestamp forward so the tolerance check is a map-side
    filter on the merged timeline."""
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_custkey").alias("user_id"),
        epoch_us("o_orderdate").alias("t_us"),
        F.lit(0).alias("is_event"),
        F.col("o_orderkey"),
        F.col("o_totalprice"),
        F.lit(None).cast("long").alias("event_id"),
    )
    e = events.select(
        "user_id",
        epoch_us("ts").alias("t_us"),
        F.lit(1).alias("is_event"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.col("event_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "is_event", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = o.unionByName(e).select(
        "user_id",
        "t_us",
        "is_event",
        "event_id",
        F.last("o_orderkey", ignorenulls=True).over(w).alias("mk"),
        F.last("o_totalprice", ignorenulls=True).over(w).alias("mp"),
        F.last(F.when(F.col("is_event") == 0, F.col("t_us")), ignorenulls=True)
        .over(w)
        .alias("mt"),
    )
    in_tol = F.col("t_us") - F.col("mt") <= _ASOF_TOL_US
    return merged.where(F.col("is_event") == 1).select(
        "event_id",
        "user_id",
        F.col("t_us").alias("ts_us"),
        F.when(in_tol, F.col("mk")).alias("asof_orderkey"),
        F.when(in_tol, F.col("mp")).alias("asof_totalprice"),
    )


_ASOF_TOL_SQL = f"""
WITH matched AS (
  SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
         o.o_orderkey, o.o_totalprice, epoch_us(o.o_orderdate) AS od_us,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e
  JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
SELECT event_id, user_id, ts_us,
       CASE WHEN ts_us - od_us <= {_ASOF_TOL_US} THEN o_orderkey END
         AS asof_orderkey,
       CASE WHEN ts_us - od_us <= {_ASOF_TOL_US} THEN o_totalprice END
         AS asof_totalprice
FROM matched WHERE rn = 1
UNION ALL
SELECT e.event_id, e.user_id, epoch_us(e.ts), NULL, NULL
FROM events e
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
"""


def join_star_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue per region through the full star. The
    two big tables sort-merge on their keys; the three dims broadcast
    (AQE converts automatically; we hint the known-tiny ones)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(dsum(revenue).alias("revenue"), bcount().alias("n_lineitems"))
    )


_STAR_SQL = f"""
SELECT r_name,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy (edit-distance) join — the record-linkage shape:
    deduplicate to the DISTINCT name dictionary first, block on a cheap
    key (first token), and run levenshtein only within a block. The
    all-pairs product never happens: candidate generation is an
    equi-join on the block key, and the dictionary is orders of
    magnitude smaller than the table (64 names for 2 000 parts here;
    same ratio logic holds for 100 TB of skewed real-world names).
    Both engines implement classic DP levenshtein, so the distance
    values — and therefore the filter — agree exactly."""
    part = load_table(spark, sf_dir, "part")
    names = (
        part.select("p_name").distinct()
        .withColumn("block", F.split("p_name", " ").getItem(0))
    )
    a = names.select(F.col("p_name").alias("name_a"), "block")
    b = names.select(F.col("p_name").alias("name_b"), "block")
    return (
        a.join(b, "block")
        .where(F.col("name_a") < F.col("name_b"))
        .withColumn("distance", F.levenshtein("name_a", "name_b").cast("long"))
        .where(F.col("distance") <= 3)
        .select("block", "name_a", "name_b", "distance")
    )


_FUZZY_SQL = """
WITH names AS (
  SELECT DISTINCT p_name, str_split(p_name, ' ')[1] AS block FROM part)
SELECT a.block, a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS distance
FROM names a JOIN names b ON a.block = b.block AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 3
"""


def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted-join helper (plans/scale.py) in the graded path:
    events ⋈ customer on user_id with the fact side salted across 16
    buckets and the dimension exploded to match — the manual remedy
    when one hot key floods a reducer and AQE's skew split can't help
    (e.g. a single-key broadcast-unfriendly aggregation downstream).
    Semantically identical to the plain join, which is exactly what
    the oracle checks."""
    from ..plans.scale import salted_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    out = salted_join(ev, cust, key="user_id", salt_buckets=16, unique_col="event_id")
    return out.select("event_id", "user_id", "c_mktsegment")


_SALTED_SQL = """
SELECT event_id, user_id, c_mktsegment
FROM events JOIN customer ON user_id = c_custkey
"""


def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURE range join (no equi key): unordered pairs of events — any
    users — within 1 second of each other. Without help Spark plans a
    pure interval predicate as a broadcast-nested-loop (O(n^2) at
    100 TB); this operator applies the standard bucketed-range-join
    rewrite: quantize time into 1 s buckets, replicate ONE side into
    its own and the preceding bucket, equi-join on the bucket id (hash
    shuffle, AQE-splittable), then refine the exact band. For a pair
    with b >= a, bucket(a) is either bucket(b) or bucket(b)-1 —
    exactly one replica matches, so no dedup pass is needed.
    tests/test_plans.py asserts the nested-loop never appears."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.select(
        F.col("event_id").alias("a_id"), epoch_us("ts").alias("a_us")
    ).withColumn("bucket", F.expr("a_us div 1000000"))
    b = ev.select(
        F.col("event_id").alias("b_id"), epoch_us("ts").alias("b_us")
    ).withColumn(
        "bucket",
        F.explode(
            F.array(F.expr("b_us div 1000000"), F.expr("b_us div 1000000 - 1"))
        ),
    )
    pairs = a.join(b, "bucket").where(
        (F.col("b_us") - F.col("a_us")).between(0, 1_000_000)
        & ((F.col("b_us") > F.col("a_us")) | (F.col("b_id") > F.col("a_id")))
    )
    return pairs.select(
        "a_id", "b_id", (F.col("b_us") - F.col("a_us")).alias("dt_us")
    )


_RANGE_BUCKETED_SQL = """
SELECT a.event_id AS a_id, b.event_id AS b_id,
       epoch_us(b.ts) - epoch_us(a.ts) AS dt_us
FROM events a JOIN events b
  ON epoch_us(b.ts) - epoch_us(a.ts) BETWEEN 0 AND 1000000
 AND (epoch_us(b.ts) > epoch_us(a.ts) OR b.event_id > a.event_id)
"""


def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join (SQL-standard lateral, Spark
    3.2+): each customer's top-2 orders by price, expressed as a
    per-row dependent subquery rather than a window. Catalyst
    decorrelates this into the same rank-then-filter plan a window
    top-k produces — asserting the two forms agree is the point: the
    lateral FORM must not change the answer (win_topk_per_group is the
    window twin). Tie-broken by o_orderkey (compat rule 7)."""
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, t.o_orderkey, t.o_totalprice
        FROM {cust} c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM {orders} o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        """,
        cust=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


_LATERAL_SQL = """
SELECT c.c_custkey, c.c_name, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
"""


def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (pandas merge_asof
    direction='nearest'): each event pairs with whichever of the user's
    latest order at-or-before ts / earliest order after ts is closer in
    time; distance ties prefer the backward match.

    Same union-merge shape as :func:`asof_enrich` run in BOTH scan
    directions over ONE user-keyed shuffle (two sorts of the same hash
    partitioning — no second Exchange): carry-last-forward gives the
    backward candidate, carry-last-backward over the reversed order
    gives the forward candidate, and a final projection picks the
    closer. No event x orders-per-user blowup at any scale.

    Tie discipline (compat rule 7): among equal-date orders the
    backward candidate is max o_orderkey, the forward candidate min
    o_orderkey — both engines pin the same rows."""
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    o = orders.select(
        F.col("o_custkey").alias("user_id"),
        epoch_us("o_orderdate").alias("t_us"),
        F.lit(0).alias("is_event"),
        F.col("o_orderkey"),
        F.lit(None).cast("long").alias("event_id"),
    )
    e = events.select(
        "user_id",
        epoch_us("ts").alias("t_us"),
        F.lit(1).alias("is_event"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.col("event_id"),
    )
    merged = o.unionByName(e)
    # Backward: orders at equal t sort before the event (<= semantics),
    # last-carried among them is max o_orderkey.
    wb = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "is_event", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Forward: reversed scan; events sort before equal-t orders so an
    # equal-t order stays a BACKWARD match only; among equal-t orders
    # the last carried in the reversed scan is min o_orderkey.
    wf = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("t_us").desc(), F.col("is_event").desc(), F.col("o_orderkey").desc()
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cand = merged.select(
        "user_id",
        "t_us",
        "is_event",
        "event_id",
        F.last("o_orderkey", ignorenulls=True).over(wb).alias("bwd_key"),
        F.max(F.when(F.col("is_event") == 0, F.col("t_us"))).over(wb).alias("bwd_us"),
        F.last("o_orderkey", ignorenulls=True).over(wf).alias("fwd_key"),
        F.min(F.when(F.col("is_event") == 0, F.col("t_us"))).over(wf).alias("fwd_us"),
    )
    ev_rows = cand.where(F.col("is_event") == 1)
    bwd_gap = F.col("t_us") - F.col("bwd_us")
    fwd_gap = F.col("fwd_us") - F.col("t_us")
    pick_bwd = F.col("bwd_key").isNotNull() & (
        F.col("fwd_key").isNull() | (bwd_gap <= fwd_gap)
    )
    return ev_rows.select(
        "event_id",
        "user_id",
        F.col("t_us").alias("ts_us"),
        F.when(pick_bwd, F.col("bwd_key")).otherwise(F.col("fwd_key")).alias(
            "near_orderkey"
        ),
        F.when(pick_bwd & F.col("bwd_key").isNotNull(), bwd_gap)
        .otherwise(fwd_gap)
        .alias("gap_us"),
        F.when(F.col("bwd_key").isNull() & F.col("fwd_key").isNull(), F.lit(None))
        .when(pick_bwd, F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("direction"),
    )


_ASOF_NEAREST_SQL = """
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
bwd AS (
  SELECT e.event_id, o.o_orderkey, epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) AS t_us,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM e JOIN orders o
    ON o.o_custkey = e.user_id
   AND epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) <= e.ts_us),
fwd AS (
  SELECT e.event_id, o.o_orderkey, epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) AS t_us,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate ASC, o.o_orderkey ASC) AS rn
  FROM e JOIN orders o
    ON o.o_custkey = e.user_id
   AND epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) > e.ts_us)
SELECT e.event_id, e.user_id, e.ts_us,
       CASE WHEN b.o_orderkey IS NOT NULL
                 AND (f.o_orderkey IS NULL OR e.ts_us - b.t_us <= f.t_us - e.ts_us)
            THEN b.o_orderkey ELSE f.o_orderkey END AS near_orderkey,
       CASE WHEN b.o_orderkey IS NOT NULL
                 AND (f.o_orderkey IS NULL OR e.ts_us - b.t_us <= f.t_us - e.ts_us)
            THEN e.ts_us - b.t_us ELSE f.t_us - e.ts_us END AS gap_us,
       CASE WHEN b.o_orderkey IS NULL AND f.o_orderkey IS NULL THEN NULL
            WHEN b.o_orderkey IS NOT NULL
                 AND (f.o_orderkey IS NULL OR e.ts_us - b.t_us <= f.t_us - e.ts_us)
            THEN 'backward' ELSE 'forward' END AS direction
FROM e
LEFT JOIN bwd b ON b.event_id = e.event_id AND b.rn = 1
LEFT JOIN fwd f ON f.event_id = e.event_id AND f.rn = 1
"""


def join_nullsafe_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (<=> / IS NOT DISTINCT FROM as the JOIN
    condition): NULL keys MATCH each other instead of dropping — the
    semantics referential data with unknown codes actually needs.
    Spark plans <=> as a hash join key (null-safe equality is still an
    equi key), so this shuffles exactly like a plain equi join; the
    left side is pre-filtered to keep the NULL-bucket product small."""
    cu = load_table(spark, sf_dir, "customer")
    code_l = F.when(F.col("c_custkey") % 5 != 0, F.col("c_custkey") % 100)
    code_r = F.when(F.col("c_custkey") % 1000 != 0, F.col("c_custkey") % 100)
    left = cu.where(F.col("c_custkey") % 97 == 0).select(
        F.col("c_custkey").alias("l_key"), code_l.cast("long").alias("code")
    )
    right = cu.select(
        F.col("c_custkey").alias("r_key"), code_r.cast("long").alias("rcode")
    )
    return (
        left.join(right, left.code.eqNullSafe(right.rcode))
        .select("l_key", "r_key", F.coalesce("code", F.lit(-1)).alias("code_or_neg1"))
    )


_NULLSAFE_JOIN_SQL = """
WITH l AS (
  SELECT c_custkey AS l_key,
         CASE WHEN c_custkey % 5 <> 0 THEN CAST(c_custkey % 100 AS BIGINT) END
           AS code
  FROM customer WHERE c_custkey % 97 = 0),
r AS (
  SELECT c_custkey AS r_key,
         CASE WHEN c_custkey % 1000 <> 0 THEN CAST(c_custkey % 100 AS BIGINT) END
           AS rcode
  FROM customer)
SELECT l_key, r_key, COALESCE(code, -1) AS code_or_neg1
FROM l JOIN r ON l.code IS NOT DISTINCT FROM r.rcode
"""


# -- runtime-filtered and AQE-skew-handled joins ----------------------------


BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def bloom_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join whose execution join_bloom_runtime materializes —
    exposed so tests can pin the bloom filter's presence in the plan."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_quantity"
    )
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_size") <= 5
    ).select("p_partkey", "p_brand")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            bcount().alias("n_lines"),
            dsum("l_extendedprice").alias("revenue"),
            F.sum("l_quantity").cast("double").alias("sum_qty"),
        )
    )


def join_bloom_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join executed under Spark's runtime bloom-filter injection:
    the selective dim predicate (p_size <= 5) builds a bloom filter
    that is pushed into the FACT side's scan stage, so at 100 TB the
    fact table sheds non-matching rows before the join shuffle instead
    of shuffling all of it (broadcast is disabled here precisely to
    exercise the shuffle-join path the filter protects). The plan's
    might_contain() presence is pinned in tests/test_plans.py; this
    query pins the OTHER half — the runtime filter must not change the
    answer (plain-SQL oracle). Executed to scratch parquet inside the
    conf scope because runtime filters are planned at action time."""
    out = scratch_dir("join_bloom_runtime", sf_dir)
    df = bloom_star_join(spark, sf_dir)
    with session_conf(spark, BLOOM_CONFS):
        df.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


_BLOOM_SQL = f"""
SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
       {dsum_sql('l_extendedprice')} AS revenue,
       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size <= 5
GROUP BY p_brand
"""


SKEW_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def skew_confs(sf_dir: str) -> dict:
    """SKEW_CONFS with the advisory/threshold bytes scaled to the
    actual fact volume: the 16KB floor keeps the split firing on the
    tiny graded inputs, while at blow-up scale the target grows to
    ~1/256 of the replicated fact so AQE splits the hot partition into
    a bounded number of tasks instead of thousands of 16KB shards
    (measured: 97s -> linear at the 10x smoke). Mirrors what a real
    deployment does — leave the DEFAULT 256MB advisory alone and let
    the ratio, not an absolute byte count, define 'skewed'."""
    import glob

    path = f"{sf_dir}/events.parquet"
    files = [path] if os.path.isfile(path) else glob.glob(f"{path}/part-*")
    sz = sum(os.path.getsize(f) for f in files)
    adv = max(16 * 1024, sz * _SKEW_REP // 256)
    return {
        **SKEW_CONFS,
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": str(adv),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(adv),
    }


_SKEW_REP = 50  # fact-side replication so the hot partition exceeds
# the (scaled-down) skew thresholds even at sf0.001
_SKEW_MAPPERS = 16  # pre-join map tasks: AQE splits a skewed reducer
# partition at MAPPER granularity, so a single-mapper stage (one small
# parquet file) is structurally unsplittable — exactly what a
# 1000-executor scan never is, recreated here via repartition


def skewed_fact_dim(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Planted-skew fixture: ~80% of (replicated) event rows collapse
    onto join key 0 (user_id % 10 < 8); the dim side is plain filtered
    customer rows plus a literal row for the hot key — deliberately
    aggregation-free, because OptimizeSkewedJoin pattern-matches
    SMJ(Sort(stage), Sort(stage)) and any operator between the Sort
    and the shuffle stage (an aggregate, a union-exchange) vetoes the
    rewrite. Deterministic, so the oracle replays it."""
    hot = F.when(F.col("user_id") % 10 < 8, F.lit(0)).otherwise(
        F.col("user_id")
    )
    fact = (
        load_table(spark, sf_dir, "events")
        .select(hot.alias("skew_key"), "event_type", "event_id")
        .withColumn("rep", F.explode(F.sequence(F.lit(1), F.lit(_SKEW_REP))))
        .repartition(_SKEW_MAPPERS)
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 10 >= 8)
        .select(
            F.col("c_custkey").alias("skew_key"),
            F.col("c_acctbal").alias("dim_val"),
        )
        .unionAll(
            spark.range(1).select(
                F.lit(0).cast("long").alias("skew_key"),
                F.lit(0.0).alias("dim_val"),
            )
        )
    )
    return fact, dim


def aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The joined+aggregated frame join_skew_aqe materializes."""
    fact, dim = skewed_fact_dim(spark, sf_dir)
    return (
        fact.join(dim, "skew_key")
        .groupBy("event_type")
        .agg(
            bcount().alias("n_rows"),
            dsum("dim_val").alias("sum_dim_val"),
            F.sum("event_id").cast("long").alias("id_checksum"),
        )
    )


def join_skew_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE-native skew handling on a planted 80%-hot-key join: with
    the skew thresholds scaled to the test data, AQE splits the hot
    shuffle partition into multiple reducer tasks and replicates the
    matching dim partition — the runtime complement to the manual
    join_salted_skew. tests/test_plans.py asserts the executed plan
    shows a skew-split AQEShuffleRead; this query pins answer
    equivalence via the plain-SQL oracle (the downstream aggregate is
    on a DIFFERENT key than the join, so the skew split's partition
    duplication is legal and re-shuffled away). Materialized to
    scratch inside the conf scope — AQE decides splits at runtime."""
    out = scratch_dir("join_skew_aqe", sf_dir)
    df = aqe_skew_join(spark, sf_dir)
    with session_conf(spark, skew_confs(sf_dir)):
        df.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


_SKEW_AQE_SQL = f"""
WITH fact AS (
  SELECT CASE WHEN user_id % 10 < 8 THEN 0 ELSE user_id END AS skew_key,
         event_type, event_id
  FROM events CROSS JOIN range({_SKEW_REP})),
dim AS (
  SELECT c_custkey AS skew_key, c_acctbal AS dim_val
  FROM customer WHERE c_custkey % 10 >= 8
  UNION ALL SELECT 0, 0.0)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       {dsum_sql('dim_val')} AS sum_dim_val,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum
FROM fact JOIN dim USING (skew_key)
GROUP BY event_type
"""


QUERIES = {
    "join_bloom_runtime": join_bloom_runtime,
    "join_skew_aqe": join_skew_aqe,
    "join_nullsafe_equi": join_nullsafe_equi,
    "join_asof_nearest": join_asof_nearest,
    "join_inner_equi": join_inner_equi,
    "join_lateral_topk": join_lateral_topk,
    "join_range_bucketed": join_range_bucketed,
    "join_salted_skew": join_salted_skew,
    "join_fuzzy_blocked": join_fuzzy_blocked,
    "join_left_outer": join_left_outer,
    "join_right_outer": join_right_outer,
    "join_full_outer": join_full_outer,
    "join_semi": join_semi,
    "join_anti": join_anti,
    "join_broadcast": join_broadcast,
    "join_cross": join_cross,
    "join_theta_range": join_theta_range,
    "join_asof": join_asof,
    "join_interval": join_interval,
    "join_star_multiway": join_star_multiway,
    "join_bucketed": join_bucketed,
    "feat_basket_affinity": feat_basket_affinity,
    "feat_basket_rules": feat_basket_rules,
    "join_asof_tolerance": join_asof_tolerance,
}

ORACLE = {
    "join_bloom_runtime": _BLOOM_SQL,
    "join_skew_aqe": _SKEW_AQE_SQL,
    "join_nullsafe_equi": _NULLSAFE_JOIN_SQL,
    "join_asof_nearest": _ASOF_NEAREST_SQL,
    "join_inner_equi": _INNER_SQL,
    "join_lateral_topk": _LATERAL_SQL,
    "join_range_bucketed": _RANGE_BUCKETED_SQL,
    "join_salted_skew": _SALTED_SQL,
    "join_fuzzy_blocked": _FUZZY_SQL,
    "join_left_outer": _LEFT_SQL,
    "join_right_outer": _RIGHT_SQL,
    "join_full_outer": _FULL_SQL,
    "join_semi": _SEMI_SQL,
    "join_anti": _ANTI_SQL,
    "join_broadcast": _BROADCAST_SQL,
    "join_cross": _CROSS_SQL,
    "join_theta_range": _THETA_SQL,
    "join_asof": _ASOF_SQL,
    "join_interval": _INTERVAL_SQL,
    "join_star_multiway": _STAR_SQL,
    "join_bucketed": _BUCKETED_SQL,
    "feat_basket_affinity": _BASKET_SQL,
    "feat_basket_rules": _BASKET_RULES_SQL,
    "join_asof_tolerance": _ASOF_TOL_SQL,
}


# ---------------------------------------------------------------------------
# Dynamic partition pruning (round 4): the runtime half of partition
# pruning — the fact side's partitions are pruned by a filter the
# optimizer can only learn at RUN time, from the dim side's rows.


def join_partition_pruning_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join where the partition filter is DYNAMIC: orders laid
    out partitioned by o_orderpriority, joined to a (file-backed) dim
    keyed on priority and filtered on a dim ATTRIBUTE (urgency class),
    so the set of fact partitions to read is only known after the dim
    filter runs — exactly the shape DPP exists for. Spark inserts a
    dynamicpruning#… subquery filter into the fact scan (pinned in
    tests/test_plans.py); at 100 TB this is the difference between
    scanning 2/5 of the fact table and all of it. The result is the
    joined revenue rollup, fully oracle-checked; the dim is derived
    from the SAME orders table so the oracle needs no scratch state."""
    out = scratch_dir("join_dpp_fact", sf_dir)
    dim_dir = scratch_dir("join_dpp_dim", sf_dir)

    def build_fact() -> None:
        orders = load_table(spark, sf_dir, "orders")
        orders.write.partitionBy("o_orderpriority").parquet(out)

    def build_dim() -> None:
        orders = load_table(spark, sf_dir, "orders")
        orders.select(F.col("o_orderpriority").alias("priority")).distinct().select(
            "priority",
            F.substring("priority", 1, 1).cast("int").alias("rank_class"),
        ).write.parquet(dim_dir)

    build_once(out, sf_dir, build_fact)
    build_once(dim_dir, sf_dir, build_dim)
    fact = spark.read.parquet(out)
    dim = spark.read.parquet(dim_dir).where(F.col("rank_class") <= 2)
    return (
        fact.join(dim, fact.o_orderpriority == dim.priority)
        .groupBy("priority")
        .agg(bcount().alias("n_orders"), dsum("o_totalprice").alias("revenue"))
    )


_JOIN_DPP_SQL = f"""
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {dsum_sql('o_totalprice')} AS revenue
FROM orders
WHERE CAST(substring(o_orderpriority, 1, 1) AS INT) <= 2
GROUP BY 1
"""

QUERIES["join_partition_pruning_dynamic"] = join_partition_pruning_dynamic
ORACLE["join_partition_pruning_dynamic"] = _JOIN_DPP_SQL


def join_lateral_df_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-2 orders via the DataFrame ``lateralJoin`` API
    (Spark 4.0): the right side is a correlated subquery referencing
    the left row through ``F.col(...).outer()`` — the DF-native twin
    of join_lateral_topk's SQL ``LATERAL`` form. Catalyst rewrites the
    correlated limit into a ranked window join, so the physical plan
    is the same shuffle-once shape as the window formulation — no
    per-row re-execution at any scale."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    top2 = (
        orders.where(F.col("o_custkey") == F.col("c_custkey").outer())
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(2)
        .select("o_orderkey", "o_totalprice")
    )
    return cust.lateralJoin(top2).select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "c_mktsegment",
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_totalprice",
    )


_LATERAL_DF_SQL = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_mktsegment,
       CAST(o_orderkey AS BIGINT) AS o_orderkey, o_totalprice
FROM (
  SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c.c_custkey
                            ORDER BY o.o_totalprice DESC, o.o_orderkey)
           AS rn
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey)
WHERE rn <= 2
"""

QUERIES["join_lateral_df_api"] = join_lateral_df_api
ORACLE["join_lateral_df_api"] = _LATERAL_DF_SQL
