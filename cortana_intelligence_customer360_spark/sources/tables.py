"""Table catalog: fixed schemas + parquet loaders.

The data model (SURVEY.md §1.2, FIXTURES.md) is a TPC-H-ish star schema
plus an event stream and two LLM-pipeline tables. Schemas are fixed and
parquet-embedded; we declare them here both as documentation and so
tests can assert the loaded DataFrame matches the contract.

At 100 TB these tables are directories of many parquet files (not a
single file); ``load_table`` takes any path Spark can glob, and all
downstream operators are written against the DataFrame, never the file
layout. Scans stay columnar: operators select only the columns they
need so Catalyst prunes the parquet ReadSchema, and filters are plain
Column predicates so they push into row-group/page filters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

TABLE_SCHEMAS: dict[str, T.StructType] = {
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

# Value domains the operators rely on (FIXTURES.md); fixed pivot/one-hot
# column sets are part of the engine contract, not runtime-inferred.
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
MKT_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["de", "en", "es", "fr", "zh"]


# Discriminates epoch-ns from epoch-µs longs: epoch-µs stays below 1e17
# until year 5138, epoch-ns crosses it in 1973. Needed because Spark
# runtimes disagree on what a LongType-forced read of a parquet
# TIMESTAMP(NANOS) column yields: 4.1.0+nanosAsLong surfaces raw ns,
# 4.1.2 ignores the legacy conf and surfaces µs-truncated values.
_NS_MAGNITUDE = 10**17


def raw_ts_to_timestamp(colname: str = "ts"):
    """Column expr: raw INT64 events timestamp -> µs TimestampType.

    Handles both runtime behaviors for LongType-forced reads of the
    parquet TIMESTAMP(NANOS) column (raw ns vs pre-truncated µs) by
    magnitude, entirely JVM-side (whole-stage codegen; no Python).
    DuckDB's reader performs the identical ns->µs truncation, so oracle
    timestamps align either way.
    """
    c = F.col(colname)
    us = F.when(c >= F.lit(_NS_MAGNITUDE), F.expr(f"{colname} DIV 1000")).otherwise(c)
    return F.timestamp_micros(us)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table from ``{sf_dir}/{name}.parquet``.

    Plain ``spark.read.parquet`` (no schema override): the schema is
    parquet-embedded and Catalyst prunes columns/pushes filters from the
    declarative plan. events.ts is stored as timestamp[ns]; see the
    events branch below for the runtime-dependent normalization.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog: {TABLES}")
    if name == "events":
        # events.ts is parquet INT64 TIMESTAMP(NANOS). Depending on the
        # Spark runtime it surfaces as a raw long (nanosAsLong honored)
        # or as TIMESTAMP_NTZ µs-truncated (4.1.2+, conf ignored).
        # Normalize both to session-tz µs TimestampType; DuckDB's
        # parquet reader truncates identically, so oracles align.
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn("ts", raw_ts_to_timestamp("ts"))
        elif ts_type.startswith("timestamp_ntz"):
            # Session tz is UTC (session.provision), so the ntz->ltz
            # cast keeps the UTC wall clock bit-identical.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
