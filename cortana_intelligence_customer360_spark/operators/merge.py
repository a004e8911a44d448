"""Warehouse change-application operators: batch MERGE (upsert) and
SCD type-2 history building.

Neither needs a table format with MERGE INTO (no Delta/Iceberg libs in
this container): the distributed form of an upsert IS an outer join on
the merge key plus a union of the not-matched inserts, which is exactly
what Delta executes under the hood. Expressing it directly keeps the
whole operation one key-shuffle (plus a map-side union) and works on
plain parquet at any scale.

The changeset derives deterministically from the orders table, so both
operators carry full DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..compat import bcount, dsum, dsum_sql, epoch_us, epoch_us_sql
from ..sources.tables import load_table

_CUTOFF = "2000-01-01 00:00:00"
# Inserted keys live in a disjoint id space. Customer keys are
# 150_000 * SF, so a 10^12 offset stays collision-free to SF ~6.6M —
# far past the 100 TB design point (10^7 collided at SF >= 67).
_NEW_KEY_OFFSET = 1_000_000_000_000
_VIP_SPEND = 400_000.0


def _changeset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic changes derived from recent orders: per customer,
    total spend and order count since the cutoff."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit(_CUTOFF).cast("timestamp")
    )
    return orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        dsum("o_totalprice").alias("spend"), bcount().alias("n_orders")
    )


def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE the changeset into the customer base table:

    - MATCHED  -> update: credit the spend into the balance, re-segment
      big spenders as VIP.
    - NOT MATCHED (new keys, offset to disjoint id space) -> insert.

    Plan: one shuffle join base<->changes on the merge key, then a
    union with the insert projection (no extra shuffle). This is the
    exact dataflow a Delta MERGE plans, on plain parquet."""
    base = load_table(spark, sf_dir, "customer")
    chg = _changeset(spark, sf_dir)

    updated = (
        base.join(chg, base.c_custkey == chg.custkey, "left")
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.round(
                F.col("c_acctbal") + F.coalesce(F.col("spend"), F.lit(0.0)) / 100.0, 6
            ).alias("acctbal"),
            F.when(F.col("spend") > _VIP_SPEND, F.lit("VIP"))
            .otherwise(F.col("c_mktsegment"))
            .alias("segment"),
            F.coalesce(F.col("n_orders"), F.lit(0).cast("long")).alias("n_orders"),
        )
    )
    inserts = chg.where(F.col("spend") > _VIP_SPEND).select(
        (F.col("custkey") + _NEW_KEY_OFFSET).alias("custkey"),
        F.concat(F.lit("PROSPECT_"), F.col("custkey")).alias("name"),
        F.lit(0.0).alias("acctbal"),
        F.lit("NEW").alias("segment"),
        F.col("n_orders"),
    )
    return updated.unionByName(inserts)


_MERGE_SQL = f"""
WITH chg AS (
  SELECT o_custkey AS custkey,
         {dsum_sql('o_totalprice')} AS spend,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '{_CUTOFF}'
  GROUP BY 1)
SELECT c_custkey AS custkey, c_name AS name,
       round(c_acctbal + COALESCE(spend, 0.0) / 100.0, 6) AS acctbal,
       CASE WHEN spend > {_VIP_SPEND} THEN 'VIP' ELSE c_mktsegment END AS segment,
       COALESCE(n_orders, CAST(0 AS BIGINT)) AS n_orders
FROM customer LEFT JOIN chg ON c_custkey = custkey
UNION ALL
SELECT custkey + {_NEW_KEY_OFFSET}, 'PROSPECT_' || custkey, 0.0, 'NEW', n_orders
FROM chg WHERE spend > {_VIP_SPEND}
"""


def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a type-2 slowly-changing dimension from the order stream:
    one row per (customer, consecutive run of order priority), with
    validity interval and version number.

    Run-compression is the lag!=current trick; validity close-off is a
    lead over the change points. Two window passes over ONE partition
    shuffle on custkey (same window spec), linear at scale."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    marked = orders.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        "o_orderpriority",
        F.lag("o_orderpriority").over(w).alias("prev_prio"),
    ).where(
        F.col("prev_prio").isNull()
        | (F.col("prev_prio") != F.col("o_orderpriority"))
    )
    wv = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return marked.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        epoch_us("o_orderdate").alias("valid_from_us"),
        epoch_us(F.lead("o_orderdate").over(wv)).alias("valid_to_us"),
        F.row_number().over(wv).cast("long").alias("version_no"),
    )


_SCD2_SQL = f"""
WITH marked AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
         lag(o_orderpriority) OVER w AS prev_prio
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
runs AS (
  SELECT * FROM marked
  WHERE prev_prio IS NULL OR prev_prio != o_orderpriority)
SELECT o_custkey AS custkey, o_orderpriority AS priority,
       {epoch_us_sql('o_orderdate')} AS valid_from_us,
       {epoch_us_sql('lead(o_orderdate) OVER w2')} AS valid_to_us,
       CAST(row_number() OVER w2 AS BIGINT) AS version_no
FROM runs
WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def scd2_pointintime_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join: enrich every order with the SCD2
    dimension version valid at its order date — the lookup pattern any
    type-2 dimension exists to serve. The predicate is an equi-join on
    the business key plus the half-open validity range
    [valid_from, valid_to); the open current version matches via the
    NULL end. Spark plans the equi-key as the hash join key and the
    range as a post-join filter — one shuffle on custkey.

    Self-validating: validity boundaries are themselves order dates, so
    each order matches exactly one version, its own run's — matched
    priority equals the order's own priority (asserted in tests)."""
    orders_all = load_table(spark, sf_dir, "orders")
    # Tie-granular dimension: validity boundaries as (date, orderkey)
    # tuples, because two same-day orders for one customer can flip the
    # priority intra-day — a date-granular [from, to) would exclude the
    # earlier order from its own run. Struct comparison is lexicographic
    # in Spark exactly as row-value comparison is in DuckDB.
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    marked = orders_all.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        "o_orderpriority",
        F.lag("o_orderpriority").over(w).alias("prev_prio"),
    ).where(
        F.col("prev_prio").isNull()
        | (F.col("prev_prio") != F.col("o_orderpriority"))
    )
    wv = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dim = marked.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        epoch_us("o_orderdate").alias("from_us"),
        F.col("o_orderkey").alias("from_key"),
        epoch_us(F.lead("o_orderdate").over(wv)).alias("to_us"),
        F.lead("o_orderkey").over(wv).alias("to_key"),
        F.row_number().over(wv).cast("long").alias("version_no"),
    )
    orders = orders_all.select(
        "o_orderkey", "o_custkey", epoch_us("o_orderdate").alias("od_us")
    )
    at = F.struct(orders.od_us, orders.o_orderkey)
    return orders.join(
        dim,
        (orders.o_custkey == dim.custkey)
        & (at >= F.struct(dim.from_us, dim.from_key))
        & (
            dim.to_us.isNull()
            | (at < F.struct(dim.to_us, dim.to_key))
        ),
    ).select("o_orderkey", "custkey", "priority", "version_no")


_SCD2_PIT_SQL = f"""
WITH marked AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
         lag(o_orderpriority) OVER w AS prev_prio
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
dim AS (
  SELECT o_custkey AS custkey, o_orderpriority AS priority,
         {epoch_us_sql('o_orderdate')} AS from_us,
         o_orderkey AS from_key,
         {epoch_us_sql('lead(o_orderdate) OVER w2')} AS to_us,
         lead(o_orderkey) OVER w2 AS to_key,
         CAST(row_number() OVER w2 AS BIGINT) AS version_no
  FROM marked
  WHERE prev_prio IS NULL OR prev_prio != o_orderpriority
  WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
SELECT o_orderkey, custkey, priority, version_no
FROM orders JOIN dim
  ON o_custkey = custkey
 AND ({epoch_us_sql('o_orderdate')}, o_orderkey) >= (from_us, from_key)
 AND (to_us IS NULL
      OR ({epoch_us_sql('o_orderdate')}, o_orderkey) < (to_us, to_key))
"""


def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a per-(user,
    event_type) aggregate MV built from the historical 80% of events
    (event_id % 10 < 8) is refreshed with the 20% delta by MERGING
    PARTIAL AGGREGATES — count adds, sum accumulates in DECIMAL(30,6)
    (exact under any split, same discipline as the foreachBatch sink)
    — never re-reading history. At 100 TB the refresh cost is
    O(delta + MV), not O(raw); the oracle recomputes the full
    aggregate from scratch and must hash-match the merged MV exactly,
    which is precisely the incremental-view-maintenance contract."""
    from ..sources.derived import scratch_dir

    ev = load_table(spark, sf_dir, "events")
    dec_sum = lambda c: F.sum(F.col(c).cast("decimal(30,6)"))  # noqa: E731
    base = (
        ev.where(F.col("event_id") % 10 < 8)
        .groupBy("user_id", "event_type")
        .agg(bcount().alias("n"), dec_sum("value").alias("sum_dec"))
    )
    mv_path = scratch_dir("mv_incremental_refresh", sf_dir)
    base.write.mode("overwrite").parquet(mv_path)  # the standing MV
    mv = spark.read.parquet(mv_path)

    delta = (
        ev.where(F.col("event_id") % 10 >= 8)
        .groupBy("user_id", "event_type")
        .agg(bcount().alias("n_d"), dec_sum("value").alias("sum_d"))
    )
    merged = mv.join(delta, ["user_id", "event_type"], "full")
    return merged.select(
        "user_id",
        "event_type",
        (F.coalesce("n", F.lit(0)) + F.coalesce("n_d", F.lit(0)))
        .cast("long")
        .alias("n_events"),
        (
            F.coalesce(F.col("sum_dec"), F.lit(0).cast("decimal(30,6)"))
            + F.coalesce(F.col("sum_d"), F.lit(0).cast("decimal(30,6)"))
        )
        .cast("double")
        .alias("sum_value"),
    )


_MV_REFRESH_SQL = f"""
SELECT user_id, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {dsum_sql('value')} AS sum_value
FROM events GROUP BY user_id, event_type
"""


# --- CDC log application -------------------------------------------------

# Same disjoint-id-space contract (and SF bound) as _NEW_KEY_OFFSET.
_CDC_INS_OFFSET = 1_000_000_000_000


def _cdc_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ordered change log derived from orders: every order
    is one change record (seq = orderkey gives a total order). Op mix:
    ~1% deletes, ~8% inserts of brand-new keys, rest updates."""
    o = load_table(spark, sf_dir, "orders")
    op = (
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("D"))
        .when(F.col("o_orderkey") % 13 == 0, F.lit("I"))
        .otherwise(F.lit("U"))
    )
    key = F.when(
        F.col("o_orderkey") % 13 == 0,
        F.col("o_custkey") + F.lit(_CDC_INS_OFFSET),
    ).otherwise(F.col("o_custkey"))
    return o.select(
        F.col("o_orderkey").alias("seq"),
        key.cast("long").alias("key"),
        op.alias("op"),
        F.round(F.col("o_totalprice") / 100.0, 6).alias("new_bal"),
    )


def cdc_apply_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply an ordered CDC change log (insert/update/delete) to a
    snapshot with last-writer-wins semantics — the batch form of a
    Debezium/«apply changes into» pipeline on plain parquet.

    Per key only the highest-seq record matters: rank the log with ONE
    window over the key (the log's only shuffle), then full-outer-join
    the one-row-per-key survivors against the snapshot on the same key —
    the window's hash partitioning is reused by the join, so the whole
    apply is one shuffle per side at any scale. D drops the row, U/I
    upsert (update-if-present, insert-if-absent)."""
    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("c_acctbal").alias("acctbal"),
    )
    log = _cdc_log(spark, sf_dir)
    w = Window.partitionBy("key").orderBy(F.col("seq").desc())
    latest = (
        log.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    joined = base.join(latest, "key", "full")
    return (
        joined.where((F.col("op") != "D") | F.col("op").isNull())
        .select(
            "key",
            F.coalesce(F.col("name"), F.concat(F.lit("cdc#"), F.col("key"))).alias(
                "name"
            ),
            F.coalesce(F.col("mktsegment"), F.lit("CDC")).alias("mktsegment"),
            F.round(F.coalesce(F.col("new_bal"), F.col("acctbal")), 6).alias(
                "acctbal"
            ),
            F.when(F.col("op").isNull(), F.lit("kept"))
            .when(F.col("acctbal").isNull(), F.lit("inserted"))
            .otherwise(F.lit("updated"))
            .alias("change"),
        )
    )


_CDC_SQL = f"""
WITH log AS (
  SELECT o_orderkey AS seq,
         CAST(CASE WHEN o_orderkey % 13 = 0
                   THEN o_custkey + {_CDC_INS_OFFSET} ELSE o_custkey END
              AS BIGINT) AS key,
         CASE WHEN o_orderkey % 97 = 0 THEN 'D'
              WHEN o_orderkey % 13 = 0 THEN 'I' ELSE 'U' END AS op,
         round(o_totalprice / 100.0, 6) AS new_bal
  FROM orders),
latest AS (
  SELECT * FROM log QUALIFY ROW_NUMBER() OVER (PARTITION BY key ORDER BY seq DESC) = 1),
joined AS (
  SELECT COALESCE(b.c_custkey, l.key) AS key, b.c_name AS name,
         b.c_mktsegment AS mktsegment, b.c_acctbal AS acctbal,
         l.op, l.new_bal
  FROM customer b FULL OUTER JOIN latest l ON b.c_custkey = l.key)
SELECT key,
       COALESCE(name, 'cdc#' || key) AS name,
       COALESCE(mktsegment, 'CDC') AS mktsegment,
       round(COALESCE(new_bal, acctbal), 6) AS acctbal,
       CASE WHEN op IS NULL THEN 'kept'
            WHEN acctbal IS NULL THEN 'inserted'
            ELSE 'updated' END AS change
FROM joined WHERE op IS NULL OR op <> 'D'
"""


# --- snapshot diff -------------------------------------------------------


def diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data reconciliation: row-level diff of two table versions,
    emitting added / removed / changed keys with both values — the
    audit-trail inverse of MERGE (given two snapshots, recover the
    changeset). The two versions derive deterministically from orders:
    v1 drops keys ≡0 (mod 7), v2 drops keys ≡0 (mod 11) and re-prices
    keys ≡0 (mod 5) by +10%.

    One full outer join on the key; unchanged rows are filtered out so
    the output is changeset-sized, not table-sized (at 100 TB the diff
    of two mostly-equal snapshots must not materialize the tables)."""
    o = load_table(spark, sf_dir, "orders")
    # Prices ride as integer CENTS so the +10% re-price and the
    # changed-row equality are exact integer arithmetic — a double
    # price*1.1 rounds differently across engines on .005 ties.
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    v1 = o.where(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("key"), cents.alias("old_cents")
    )
    v2 = o.where(F.col("o_orderkey") % 11 != 0).select(
        F.col("o_orderkey").alias("key"),
        F.when(
            F.col("o_orderkey") % 5 == 0, (cents * 11).cast("long") / 10
        )
        .otherwise(cents)
        .cast("long")
        .alias("new_cents"),
    )
    j = v1.join(v2, "key", "full")
    return j.select(
        "key",
        "old_cents",
        "new_cents",
        F.when(F.col("old_cents").isNull(), F.lit("added"))
        .when(F.col("new_cents").isNull(), F.lit("removed"))
        .when(F.col("old_cents") != F.col("new_cents"), F.lit("changed"))
        .alias("change"),
    ).where(F.col("change").isNotNull())


_DIFF_SQL = """
WITH c AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
v1 AS (
  SELECT o_orderkey AS key, cents AS old_cents
  FROM c WHERE o_orderkey % 7 <> 0),
v2 AS (
  SELECT o_orderkey AS key,
         CAST(CASE WHEN o_orderkey % 5 = 0 THEN (cents * 11) // 10
                   ELSE cents END AS BIGINT) AS new_cents
  FROM c WHERE o_orderkey % 11 <> 0),
j AS (
  SELECT COALESCE(v1.key, v2.key) AS key, v1.old_cents, v2.new_cents
  FROM v1 FULL OUTER JOIN v2 ON v1.key = v2.key)
SELECT key, old_cents, new_cents,
       CASE WHEN old_cents IS NULL THEN 'added'
            WHEN new_cents IS NULL THEN 'removed'
            WHEN old_cents <> new_cents THEN 'changed' END AS change
FROM j
WHERE CASE WHEN old_cents IS NULL THEN 'added'
           WHEN new_cents IS NULL THEN 'removed'
           WHEN old_cents <> new_cents THEN 'changed' END IS NOT NULL
"""


def merge_full_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE MERGE clause matrix in one pass — WHEN MATCHED
    (update), WHEN NOT MATCHED [BY TARGET] (insert), and WHEN NOT
    MATCHED BY SOURCE (delete) — the reconciliation semantics Delta/
    SQL:2003 MERGE adds over a plain upsert (merge_upsert keeps
    source-absent rows; this op deletes them, the "source is the full
    desired state" contract of snapshot ingestion).

    Source = the recent-orders changeset, with every custkey % 7 == 0
    re-keyed into the disjoint insert space so all three clauses fire.
    Plan: ONE full-outer shuffle join on the merge key; each clause is
    a projection branch of the same joined frame — no second scan of
    either side."""
    base = load_table(spark, sf_dir, "customer")
    chg = _changeset(spark, sf_dir).withColumn(
        "custkey",
        F.when(
            F.col("custkey") % 7 == 0, F.col("custkey") + _NEW_KEY_OFFSET
        ).otherwise(F.col("custkey")),
    )
    j = base.join(chg, base.c_custkey == chg.custkey, "full_outer")
    matched = j.where(
        F.col("c_custkey").isNotNull() & F.col("custkey").isNotNull()
    ).select(
        F.col("c_custkey").alias("custkey"),
        F.round(F.col("c_acctbal") + F.col("spend") / 100.0, 6).alias(
            "acctbal"
        ),
        F.lit("updated").alias("action"),
    )
    inserted = j.where(F.col("c_custkey").isNull()).select(
        F.col("custkey"),
        F.round(F.col("spend") / 100.0, 6).alias("acctbal"),
        F.lit("inserted").alias("action"),
    )
    # NOT MATCHED BY SOURCE -> DELETE: base rows absent from the
    # changeset simply do not appear in the output.
    return matched.unionByName(inserted)


_MERGE_MATRIX_SQL = f"""
WITH chg AS (
  SELECT CASE WHEN custkey % 7 = 0 THEN custkey + {_NEW_KEY_OFFSET}
              ELSE custkey END AS custkey,
         spend
  FROM (
    SELECT o_custkey AS custkey, {dsum_sql('o_totalprice')} AS spend
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{_CUTOFF}'
    GROUP BY 1)),
j AS (
  SELECT c.c_custkey, c.c_acctbal, g.custkey, g.spend
  FROM customer c FULL OUTER JOIN chg g ON c.c_custkey = g.custkey)
SELECT c_custkey AS custkey,
       round(c_acctbal + spend / 100.0, 6) AS acctbal,
       'updated' AS action
FROM j WHERE c_custkey IS NOT NULL AND custkey IS NOT NULL
UNION ALL
SELECT custkey, round(spend / 100.0, 6), 'inserted'
FROM j WHERE c_custkey IS NULL
"""


QUERIES = {
    "merge_full_matrix": merge_full_matrix,
    "diff_snapshots": diff_snapshots,
    "merge_upsert": merge_upsert,
    "mv_incremental_refresh": mv_incremental_refresh,
    "scd2_history": scd2_history,
    "scd2_pointintime_join": scd2_pointintime_join,
    "cdc_apply_log": cdc_apply_log,
}
ORACLE = {
    "merge_full_matrix": _MERGE_MATRIX_SQL,
    "diff_snapshots": _DIFF_SQL,
    "merge_upsert": _MERGE_SQL,
    "mv_incremental_refresh": _MV_REFRESH_SQL,
    "scd2_history": _SCD2_SQL,
    "scd2_pointintime_join": _SCD2_PIT_SQL,
    "cdc_apply_log": _CDC_SQL,
}
