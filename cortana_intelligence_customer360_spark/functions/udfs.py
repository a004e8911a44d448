"""UDF / UDAF / UDTF surface (SURVEY.md §2.11).

These four operators deliberately exercise every JVM<->Python execution
path Spark offers, in increasing efficiency order:

- udf_python_scalar: row-at-a-time Python UDF - the SLOW path, here
  only to prove the surface; everything hot elsewhere uses built-ins.
- udf_pandas_vectorized: Arrow-batched Series->Series pandas UDF
  (~10-100x the row UDF; the acceptable Python path at scale).
- udaf_grouped_pandas: applyInPandas grouped-map (per-user OLS slope) -
  one shuffle on the group key, whole groups as pandas frames.
- udtf_python: Python UDTF with a TABLE argument, lateral-exploding
  documents into token rows.

All four still carry full DuckDB oracles: the Python logic is chosen so
an equivalent closed-form SQL exists (CASE bands, price arithmetic, OLS
normal equations, unnest) - which pins the Arrow round-trip end to end.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.tables import load_table


@F.udf(returnType=T.StringType())
def _price_band(price: float) -> str:
    if price is None:
        return "unknown"
    if price < 50000:
        return "low"
    if price < 200000:
        return "mid"
    return "high"


def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_orderkey", _price_band("o_totalprice").alias("band"))


_UDF_SCALAR_SQL = """
SELECT o_orderkey,
       CASE WHEN o_totalprice < 50000 THEN 'low'
            WHEN o_totalprice < 200000 THEN 'mid'
            ELSE 'high' END AS band
FROM orders
"""


@F.pandas_udf(T.DoubleType())
def _net_price(extended: pd.Series, discount: pd.Series, tax: pd.Series) -> pd.Series:
    # Vectorized numpy arithmetic on Arrow batches; the expression
    # matches the SQL oracle operation-for-operation so IEEE results
    # are bit-identical.
    return extended * (1.0 - discount) * (1.0 + tax)


def udf_pandas_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _net_price("l_extendedprice", "l_discount", "l_tax").alias("net_charge"),
    )


_UDF_PANDAS_SQL = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS net_charge
FROM lineitem
"""

_SLOPE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("slope", T.DoubleType()),
    ]
)


def _user_trend(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-user OLS slope of event value vs time (days since the
    user's first event), via the normal equations - the same closed
    form the SQL oracle evaluates. Rounded to 6 dp: numpy and SQL
    accumulate in different orders (~1e-12 apart on these magnitudes)."""
    x = (pdf["ts_us"] - pdf["ts_us"].min()).to_numpy(dtype=np.float64) / 86_400_000_000.0
    y = pdf["value"].to_numpy(dtype=np.float64)
    n = len(pdf)
    denom = n * np.sum(x * x) - np.sum(x) ** 2
    slope = float((n * np.sum(x * y) - np.sum(x) * np.sum(y)) / denom) if denom > 0 else 0.0
    return pd.DataFrame(
        {"user_id": [int(pdf["user_id"].iloc[0])], "n": [n], "slope": [round(slope, 6)]}
    )


def udaf_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDAF: one pandas frame per user (users are small and
    uniform here; a skewed key at 100 TB would need salting or an
    algebraic reformulation - the closed form used by the oracle IS
    that reformulation)."""
    ev = load_table(spark, sf_dir, "events")
    from ..compat import epoch_us

    base = ev.select("user_id", epoch_us("ts").alias("ts_us"), "value")
    return base.groupBy("user_id").applyInPandas(_user_trend, _SLOPE_SCHEMA)


_UDAF_SQL = """
WITH b AS (
  SELECT user_id,
         CAST(epoch_us(ts) - MIN(epoch_us(ts)) OVER (PARTITION BY user_id) AS DOUBLE)
           / 86400000000.0 AS x,
         value AS y
  FROM events),
s AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x * x) AS sxx, SUM(x) AS sx, SUM(x * y) AS sxy, SUM(y) AS sy
  FROM b GROUP BY user_id)
SELECT user_id, n,
       CASE WHEN n * sxx - sx * sx > 0
            THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
            ELSE 0.0 END AS slope
FROM s
"""


def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF over a TABLE argument: documents -> (doc_id, pos,
    token) rows (same contract as fn_explode, here through the UDTF
    execution path)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: long, pos: long, token: string")
    class SplitTokens:
        def eval(self, row):
            for pos, token in enumerate(row["text"].split(" ")):
                yield row["doc_id"], pos, token

    spark.udtf.register("c360_split_tokens", SplitTokens)
    return spark.sql(
        "SELECT s.doc_id, s.pos, s.token "
        "FROM c360_split_tokens(TABLE(SELECT doc_id, text FROM {docs})) s",
        docs=load_table(spark, sf_dir, "documents"),
    )


_UDTF_SQL = """
SELECT d.doc_id, CAST(r.i AS BIGINT) AS pos, d.l[r.i + 1] AS token
FROM (SELECT doc_id, str_split(text, ' ') AS l FROM documents) d,
     LATERAL (SELECT UNNEST(range(len(d.l))) AS i) r
"""


def udtf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-aware stateful UDTF (Spark 4): the TABLE argument is
    PARTITION BY user_id ORDER BY (ts, event_id), so eval() sees one
    user's events in time order and terminate() emits a single summary
    row per partition — the UDTF form of a custom aggregate. Computes
    the longest run of consecutive same-type events (earliest run wins
    ties, which the guaranteed ordering makes deterministic)."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="user_id: long, n_events: long, longest_streak: long, "
        "streak_type: string"
    )
    class LongestStreak:
        def __init__(self):
            self.user = None
            self.n = 0
            self.cur_type = None
            self.cur_len = 0
            self.best_len = 0
            self.best_type = None

        def eval(self, row):
            self.user = row["user_id"]
            self.n += 1
            if row["event_type"] == self.cur_type:
                self.cur_len += 1
            else:
                self.cur_type = row["event_type"]
                self.cur_len = 1
            if self.cur_len > self.best_len:  # strict >: earliest run wins
                self.best_len = self.cur_len
                self.best_type = self.cur_type

        def terminate(self):
            if self.user is not None:
                yield self.user, self.n, self.best_len, self.best_type

    spark.udtf.register("c360_longest_streak", LongestStreak)
    return spark.sql(
        "SELECT s.user_id, s.n_events, s.longest_streak, s.streak_type "
        "FROM c360_longest_streak(TABLE(SELECT user_id, ts, event_id, event_type "
        "FROM {ev}) PARTITION BY user_id ORDER BY (ts, event_id)) s",
        ev=load_table(spark, sf_dir, "events"),
    )


_UDTF_PART_SQL = """
WITH s AS (
  SELECT user_id, event_type, ts, event_id,
         ROW_NUMBER() OVER w AS rn,
         ROW_NUMBER() OVER w
           - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS grp
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
islands AS (
  SELECT user_id, event_type, grp,
         CAST(COUNT(*) AS BIGINT) AS len, MIN(rn) AS start_rn
  FROM s GROUP BY user_id, event_type, grp),
ranked AS (
  SELECT user_id, event_type, len,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY len DESC, start_rn ASC) AS rk,
         SUM(len) OVER (PARTITION BY user_id) AS total_len,
         MAX(len) OVER (PARTITION BY user_id) AS max_len
  FROM islands)
SELECT user_id,
       CAST(total_len AS BIGINT) AS n_events,
       CAST(max_len AS BIGINT) AS longest_streak,
       event_type AS streak_type
FROM ranked WHERE rk = 1
"""


_COGROUP_SCHEMA = (
    "user_id long, n_events long, n_orders long, "
    "first_event_us long, last_order_us long, gap_days long"
)


_COGROUP_BUCKETS = 256


def _merge_user_streams(key, ev: pd.DataFrame, od: pd.DataFrame) -> pd.DataFrame:
    """Cogrouped merge of each user's event and order streams, one hash
    BUCKET of users per call: per-side counts, stream endpoints, and
    the gap (floored days) between the last order and first event.
    Bucketing the cogroup key is the per-group-overhead control - the
    Python function runs ~_COGROUP_BUCKETS times with vectorized pandas
    groupbys inside, instead of once per user (measured 16s -> ~2s at
    15k users). Integer math only, so the output is bit-deterministic
    under any partitioning."""
    e = (
        ev.groupby("user_id")["ts_us"].agg(n_events="size", first_event_us="min")
        if len(ev)
        else pd.DataFrame(columns=["n_events", "first_event_us"])
    )
    o = (
        od.groupby("user_id")["od_us"].agg(n_orders="size", last_order_us="max")
        if len(od)
        else pd.DataFrame(columns=["n_orders", "last_order_us"])
    )
    m = e.join(o, how="outer")
    m["n_events"] = m["n_events"].fillna(0).astype("int64")
    m["n_orders"] = m["n_orders"].fillna(0).astype("int64")
    m["gap_days"] = (m["first_event_us"] - m["last_order_us"]) // 86_400_000_000
    out = m.reset_index().rename(columns={"index": "user_id"})
    return out[
        ["user_id", "n_events", "n_orders", "first_event_us",
         "last_order_us", "gap_days"]
    ]


def udf_cogrouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map pandas API (the two-sided sibling of
    udaf_grouped_pandas): events and orders are shuffled once on a
    shared user-hash bucket and each bucket pair meets in ONE pandas
    function - the escape hatch for per-key merge logic that has no
    built-in operator. Timestamps are normalized to epoch-µs BEFORE the
    Python boundary so the pandas side is pure int64."""
    from ..compat import epoch_us

    bucket = F.pmod(F.col("user_id"), F.lit(_COGROUP_BUCKETS)).cast("int")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", epoch_us("ts").alias("ts_us"), bucket.alias("b")
    )
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        epoch_us("o_orderdate").alias("od_us"),
        F.pmod(F.col("o_custkey"), F.lit(_COGROUP_BUCKETS)).cast("int").alias("b"),
    )
    return (
        ev.groupBy("b")
        .cogroup(od.groupBy("b"))
        .applyInPandas(_merge_user_streams, _COGROUP_SCHEMA)
    )


_COGROUP_SQL = """
WITH e AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_event_us
  FROM events GROUP BY 1),
o AS (
  SELECT o_custkey AS user_id, CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(MAX(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT)
           AS last_order_us
  FROM orders GROUP BY 1)
SELECT COALESCE(e.user_id, o.user_id) AS user_id,
       COALESCE(e.n_events, 0) AS n_events,
       COALESCE(o.n_orders, 0) AS n_orders,
       e.first_event_us,
       o.last_order_us,
       CAST((e.first_event_us - o.last_order_us)
            // 86400000000 AS BIGINT) AS gap_days
FROM e
FULL JOIN o ON e.user_id = o.user_id
"""


_ARROW_OUT_SCHEMA = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("disc_price", T.DoubleType()),
    ]
)


def _arrow_disc_price(batches):
    """RecordBatch-level transform: stays in Arrow end to end (no pandas
    materialization) — the lowest-overhead Python boundary Spark
    offers. Arithmetic via pyarrow.compute matches the oracle
    operation-for-operation, so IEEE results are bit-identical."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        ext = batch.column(batch.schema.get_field_index("l_extendedprice"))
        disc = batch.column(batch.schema.get_field_index("l_discount"))
        price = pc.multiply(ext, pc.subtract(pa.scalar(1.0), disc))
        yield pa.RecordBatch.from_arrays(
            [
                batch.column(batch.schema.get_field_index("l_orderkey")),
                batch.column(batch.schema.get_field_index("l_linenumber")),
                price,
            ],
            schema=pa.schema(
                [
                    pa.field("l_orderkey", pa.int64()),
                    pa.field("l_linenumber", pa.int32()),
                    pa.field("disc_price", pa.float64()),
                ]
            ),
        )


def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow over lineitem: the Arrow-native sibling of
    mapInPandas — batches cross the JVM/Python boundary as Arrow
    RecordBatches and are transformed with pyarrow.compute kernels
    without ever building a pandas frame (no index, no object dtype,
    no copy). Map-only: zero shuffle at any scale."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    return li.mapInArrow(_arrow_disc_price, _ARROW_OUT_SCHEMA)


_MAP_ARROW_SQL = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1.0 - l_discount) AS disc_price
FROM lineitem
"""


@F.udf(T.StringType(), useArrow=True)
def _order_tag(key: int, status: str) -> str:
    # deterministic pure-Python formatting, mirrored exactly in SQL
    return f"{status}-{key % 97:02d}"


def udf_arrow_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Arrow-OPTIMIZED Python UDF (useArrow=True): same
    row-at-a-time Python semantics as udf_python_scalar, but batched
    over Arrow instead of pickled row-by-row — the drop-in ~2-5x
    serialization win for legacy UDFs that can't be vectorized. The
    function is pure formatting so the DuckDB oracle reproduces it
    symbolically."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        _order_tag(F.col("o_orderkey"), F.col("o_orderstatus")).alias("tag"),
    )


_UDF_ARROW_SQL = """
SELECT o_orderkey,
       o_orderstatus || '-' || lpad(CAST(o_orderkey % 97 AS VARCHAR), 2, '0')
         AS tag
FROM orders
"""


QUERIES = {
    "udf_arrow_optimized": udf_arrow_optimized,
    "udtf_partitioned": udtf_partitioned,
    "udf_map_in_arrow": udf_map_in_arrow,
    "udf_python_scalar": udf_python_scalar,
    "udf_pandas_vectorized": udf_pandas_vectorized,
    "udaf_grouped_pandas": udaf_grouped_pandas,
    "udf_cogrouped_pandas": udf_cogrouped_pandas,
    "udtf_python": udtf_python,
}

ORACLE = {
    "udf_arrow_optimized": _UDF_ARROW_SQL,
    "udtf_partitioned": _UDTF_PART_SQL,
    "udf_map_in_arrow": _MAP_ARROW_SQL,
    "udf_python_scalar": _UDF_SCALAR_SQL,
    "udf_pandas_vectorized": _UDF_PANDAS_SQL,
    "udaf_grouped_pandas": _UDAF_SQL,
    "udf_cogrouped_pandas": _COGROUP_SQL,
    "udtf_python": _UDTF_SQL,
}


def udtf_analyze_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 4 ``analyze`` API): the output
    schema is computed at PLAN time from the TABLE argument's actual
    schema — one ``<col>_x2`` double column per non-key input column,
    whatever columns the caller passes. The static analyze() hook is
    the piece udtf_python/udtf_partitioned don't exercise: the same
    registered function adapts to any projection without re-writing
    the return type. Doubling by 2.0 is exact IEEE scaling, so the
    oracle recomputes it directly."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import DoubleType, LongType, StructType

    class DoubleNumerics:
        @staticmethod
        def analyze(t):
            from pyspark.sql.udtf import AnalyzeResult

            out = StructType().add("key", LongType())
            for f in t.dataType.fields[1:]:
                out = out.add(f"{f.name}_x2", DoubleType())
            return AnalyzeResult(schema=out)

        def eval(self, row):
            vals = [row[i] for i in range(1, len(row))]
            yield (row[0], *[None if v is None else float(v) * 2.0 for v in vals])

    DoubleNumerics = udtf(DoubleNumerics)
    spark.udtf.register("c360_double_numerics", DoubleNumerics)
    return spark.sql(
        "SELECT s.key, s.c_acctbal_x2, s.c_nationkey_x2 "
        "FROM c360_double_numerics(TABLE(SELECT c_custkey, c_acctbal, "
        "c_nationkey FROM {cust})) s",
        cust=load_table(spark, sf_dir, "customer"),
    )


_UDTF_ANALYZE_SQL = """
SELECT c_custkey AS key,
       CAST(c_acctbal AS DOUBLE) * 2.0 AS c_acctbal_x2,
       CAST(c_nationkey AS DOUBLE) * 2.0 AS c_nationkey_x2
FROM customer
"""

QUERIES["udtf_analyze_dynamic"] = udtf_analyze_dynamic
ORACLE["udtf_analyze_dynamic"] = _UDTF_ANALYZE_SQL


def udf_sql_declared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-DECLARED scalar functions (Spark 4 ``CREATE TEMPORARY
    FUNCTION ... RETURN <expr>``): the UDF surface with ZERO
    serialization cost — the body is inlined into the plan at analysis
    time and runs inside whole-stage codegen, unlike every Python UDF
    in this module. A price-band classifier and a tax-inclusive amount,
    declared in SQL and used from a query over lineitem."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION c360_price_band(x DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN x >= 40000 THEN 'high' "
        "WHEN x >= 10000 THEN 'mid' ELSE 'low' END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION c360_with_tax(p DOUBLE, t DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1.0 + t)"
    )
    return spark.sql(
        """
        SELECT c360_price_band(l_extendedprice) AS band,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(c360_with_tax(l_extendedprice, l_tax)
                             AS DECIMAL(30,6))) AS DOUBLE) AS taxed_total
        FROM {li}
        GROUP BY 1
        """,
        li=load_table(spark, sf_dir, "lineitem"),
    )


_UDF_SQL_DECLARED_SQL = """
SELECT CASE WHEN l_extendedprice >= 40000 THEN 'high'
            WHEN l_extendedprice >= 10000 THEN 'mid' ELSE 'low' END AS band,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice * (1.0 + l_tax)
                     AS DECIMAL(30,6))) AS DOUBLE) AS taxed_total
FROM lineitem
GROUP BY 1
"""

QUERIES["udf_sql_declared"] = udf_sql_declared
ORACLE["udf_sql_declared"] = _UDF_SQL_DECLARED_SQL


def udf_pandas_iterator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-Series pandas UDF (Iterator[pd.Series] ->
    Iterator[pd.Series]): the Arrow-batched form that lets expensive
    per-executor initialization (model load, dictionary build) happen
    ONCE per task instead of once per batch — here a price banding
    whose 'model' is a thresholds array constructed before the batch
    loop, applied vectorized with numpy.searchsorted.

    Oracle: the equivalent CASE bands — pins the iterator execution
    path end to end (batch boundaries must not change results).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def band_iter(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        thresholds = np.array([50_000.0, 200_000.0, 400_000.0])  # once per task
        for s in batches:
            yield pd.Series(
                np.searchsorted(thresholds, s.to_numpy(), side="right")
            )

    orders = load_table(spark, sf_dir, "orders")
    banded = orders.select(
        band_iter(F.col("o_totalprice")).alias("band"),
        "o_totalprice",
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("band")
    )


_UDF_ITER_SQL = """
SELECT CASE WHEN o_totalprice >= 400000.0 THEN 3
            WHEN o_totalprice >= 200000.0 THEN 2
            WHEN o_totalprice >= 50000.0 THEN 1
            ELSE 0 END AS band,
       CAST(COUNT(*) AS BIGINT) AS n,
       MAX(o_totalprice) AS max_price
FROM orders GROUP BY 1 ORDER BY 1
"""

QUERIES["udf_pandas_iterator"] = udf_pandas_iterator
ORACLE["udf_pandas_iterator"] = _UDF_ITER_SQL


# ---------------------------------------------------------------------------
# Arrow-native GROUPED and COGROUPED maps (round 7): applyInArrow — the
# Spark-4 Arrow siblings of applyInPandas. Per-group data crosses the
# boundary as a pyarrow.Table and is aggregated with pyarrow.compute
# kernels (no pandas object dtype, no index, no copy). Aggregates are
# INTEGER-only so results are exact regardless of within-group order —
# the float discipline problem doesn't arise.

_GROUP_ARROW_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("min_eid", T.LongType()),
        T.StructField("max_eid", T.LongType()),
        T.StructField("sum_eid", T.LongType()),
        T.StructField("n_types", T.LongType()),
    ]
)


def _user_arrow_stats(tbl):
    import pyarrow as pa
    import pyarrow.compute as pc

    eid = tbl.column("event_id")
    mm = pc.min_max(eid).as_py()
    return pa.table(
        {
            "user_id": [tbl.column("user_id")[0].as_py()],
            "n": [tbl.num_rows],
            "min_eid": [mm["min"]],
            "max_eid": [mm["max"]],
            "sum_eid": [pc.sum(eid).as_py()],
            "n_types": [pc.count_distinct(tbl.column("event_type")).as_py()],
        },
        schema=pa.schema([pa.field(f.name, pa.int64()) for f in _GROUP_ARROW_SCHEMA]),
    )


def udaf_grouped_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type"
    )
    return ev.groupBy("user_id").applyInArrow(
        _user_arrow_stats, _GROUP_ARROW_SCHEMA
    )


_GROUP_ARROW_SQL = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(event_id) AS BIGINT) AS min_eid,
       CAST(MAX(event_id) AS BIGINT) AS max_eid,
       CAST(SUM(event_id) AS BIGINT) AS sum_eid,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
FROM events GROUP BY 1
"""


_COGROUP_ARROW_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_orders", T.LongType()),
    ]
)


def _merge_arrow_sides(left, right):
    import pyarrow as pa

    le = left.group_by("user_id").aggregate([("user_id", "count")])
    ro = right.group_by("user_id").aggregate([("user_id", "count")])
    le = le.rename_columns(["user_id", "n_events"])
    ro = ro.rename_columns(["user_id", "n_orders"])
    j = le.join(ro, keys="user_id", join_type="full outer")
    cols = {
        "user_id": j.column("user_id").cast(pa.int64()),
        "n_events": j.column("n_events").fill_null(0).cast(pa.int64()),
        "n_orders": j.column("n_orders").fill_null(0).cast(pa.int64()),
    }
    return pa.table(cols)


def udf_cogrouped_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cogroup(...).applyInArrow: both sides of a user-hash bucket meet
    as pyarrow Tables and are merged with Arrow's native hash
    aggregation + full-outer join — per-key merge logic with zero
    pandas materialization. Same bucket-cogroup shuffle shape as
    udf_cogrouped_pandas (one exchange per side)."""
    bucket = F.pmod(F.col("user_id"), F.lit(_COGROUP_BUCKETS)).cast("int")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", bucket.alias("b")
    )
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.pmod(F.col("o_custkey"), F.lit(_COGROUP_BUCKETS)).cast("int").alias("b"),
    )
    return (
        ev.groupBy("b")
        .cogroup(od.groupBy("b"))
        .applyInArrow(_merge_arrow_sides, _COGROUP_ARROW_SCHEMA)
    )


_COGROUP_ARROW_SQL = """
WITH e AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1),
o AS (SELECT o_custkey AS user_id, COUNT(*) AS n_orders FROM orders GROUP BY 1)
SELECT COALESCE(e.user_id, o.user_id) AS user_id,
       CAST(COALESCE(e.n_events, 0) AS BIGINT) AS n_events,
       CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders
FROM e FULL OUTER JOIN o ON e.user_id = o.user_id
"""

QUERIES["udaf_grouped_arrow"] = udaf_grouped_arrow
ORACLE["udaf_grouped_arrow"] = _GROUP_ARROW_SQL
QUERIES["udf_cogrouped_arrow"] = udf_cogrouped_arrow
ORACLE["udf_cogrouped_arrow"] = _COGROUP_ARROW_SQL


# ---------------------------------------------------------------------------
# Arrow interchange surface (round 10; verdict-9 item 4): the Spark-4
# DataFrame.toArrow() / createDataFrame(pyarrow.Table) round-trip —
# the LAST Python-boundary API family without a registered op
# (mapInArrow / applyInArrow / arrow-optimized UDFs live above).
# ---------------------------------------------------------------------------


def arrow_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.toArrow() -> pyarrow.compute -> createDataFrame
    round-trip: aggregate lineitem per (returnflag, linestatus) into
    integer-exact sufficient statistics, pull the AGGREGATE (never the
    fact table — toArrow is a driver-side collect, so this op is
    pinned to a group-cardinality frame, ~6 rows at any SF; that
    boundary is the op's documented contract, mirrored in PLANS.md),
    derive avg-quantity and revenue-share columns with pyarrow.compute
    kernels on the driver, and hand the pyarrow.Table straight back to
    spark.createDataFrame (Arrow fast path, no pandas hop).

    Exactness: sums cross the boundary as BIGINT cents / unit-quanta
    (parquet DECIMAL(15,2) scaled by 100), so the Arrow table carries
    exact integers; the two derived DOUBLE columns are single
    divisions of exact integers rounded to 6 dp — the same arithmetic
    text DuckDB replays."""
    import pyarrow as pa
    import pyarrow.compute as pc

    li = load_table(spark, sf_dir, "lineitem")
    agg = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            # round() before the long cast: the columns are DOUBLE, so
            # x*100 sits 1 ulp under the integer and a bare cast
            # truncates in Spark but rounds in DuckDB (compat rule 1's
            # cents discipline; measured 576-cent drift without it).
            F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
            .alias("qty_c"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .alias("price_c"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
    tbl: pa.Table = agg.toArrow()
    total_price_c = pc.sum(tbl["price_c"]).as_py()
    # Arrow's round() defaults to banker's half_to_even; the DuckDB
    # oracle's round() and Spark's F.round both round half AWAY from
    # zero, so a quotient landing exactly on a 5 at the 7th decimal
    # would diverge by 1e-6 without the explicit mode (r10 ADVICE).
    # Arrow's name for half-away-from-zero is "half_towards_infinity".
    _away = "half_towards_infinity"
    avg_qty = pc.round(
        pc.divide(
            pc.cast(tbl["qty_c"], pa.float64()),
            pc.multiply(pc.cast(tbl["n_rows"], pa.float64()), 100.0),
        ),
        ndigits=6,
        round_mode=_away,
    )
    rev_share = pc.round(
        pc.divide(
            pc.cast(tbl["price_c"], pa.float64()), float(total_price_c)
        ),
        ndigits=6,
        round_mode=_away,
    )
    out = tbl.append_column("avg_qty", avg_qty).append_column(
        "revenue_share", rev_share
    )
    return spark.createDataFrame(out)


_ARROW_ROUNDTRIP_SQL = """
WITH agg AS (
  SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
           AS qty_c,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS price_c,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM lineitem GROUP BY 1, 2)
SELECT l_returnflag, l_linestatus, qty_c, price_c, n_rows,
       round(CAST(qty_c AS DOUBLE) / (CAST(n_rows AS DOUBLE) * 100.0), 6)
         AS avg_qty,
       round(CAST(price_c AS DOUBLE)
             / CAST((SELECT SUM(price_c) FROM agg) AS DOUBLE), 6)
         AS revenue_share
FROM agg
"""

QUERIES["arrow_table_roundtrip"] = arrow_table_roundtrip
ORACLE["arrow_table_roundtrip"] = _ARROW_ROUNDTRIP_SQL
