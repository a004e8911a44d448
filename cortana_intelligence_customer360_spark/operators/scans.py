"""Scan / source / sink operators (SURVEY.md §2.1).

Scans are declarative so Catalyst pushes filters into the parquet
reader (row-group + page pruning) and prunes columns (ReadSchema).
tests/test_plans.py asserts PushedFilters actually fires - at 100 TB
a scan that reads all columns for a 2-column projection is a bug.

Format roundtrips and sinks write to ``scratch_dir(qid, sf_dir)``
(sources/derived.py) in overwrite mode, so repeated driver/bench runs
don't accumulate files. Layouts that are read many times (the
partitioned orders, the schema-evolution snapshots, the fragmented
events copy, the nested landing zone) are built once per input state
through ``build_once`` and rebuilt when the inputs change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..compat import bcount, dsum, dsum_sql, epoch_us
from ..session import drain, session_conf
from ..sources.derived import build_once, scratch_dir
from ..sources.tables import TABLE_SCHEMAS, load_table


def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full lineitem scan, all columns (timestamp emitted as epoch-µs
    per compat rule 4)."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = [c for c in li.columns if c != "l_shipdate"]
    return li.select(*cols, epoch_us("l_shipdate").alias("l_shipdate_us"))


_SCAN_PARQUET_SQL = """
SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
       l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
       CAST(epoch_us(CAST(l_shipdate AS TIMESTAMP)) AS BIGINT) AS l_shipdate_us
FROM lineitem
"""


def scan_project_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned scan with predicates Catalyst pushes into the
    parquet reader (asserted in tests/test_plans.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_linenumber", "l_extendedprice").where(
        (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
        & (F.col("l_discount") > 0.05)
    )


_SCAN_PUSHDOWN_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00' AND l_discount > 0.05
"""


def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write region as headered CSV, re-read with an explicit schema
    (no inference job - schema-on-read is declared, SURVEY §1.2)."""
    out = scratch_dir("scan_csv_roundtrip", sf_dir)
    load_table(spark, sf_dir, "region").write.mode("overwrite").option(
        "header", True
    ).csv(out)
    return spark.read.schema(TABLE_SCHEMAS["region"]).option("header", True).csv(out)


def scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write nation as JSON-lines, re-read with explicit schema."""
    out = scratch_dir("scan_json_roundtrip", sf_dir)
    load_table(spark, sf_dir, "nation").write.mode("overwrite").json(out)
    return spark.read.schema(TABLE_SCHEMAS["nation"]).json(out)


def scan_jsonl_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON ingestion: write per-user records with a nested
    struct (``stats``) and an array (``event_types``) as JSON lines,
    re-read with an EXPLICIT nested schema (no sampling inference —
    at 100 TB schema inference is a full extra pass), then flatten.
    The aggregate totals are rounded to 6 dp BEFORE serialization so
    the decimal text round-trips to the identical double.

    Oracle: the flattening is semantically the identity over the
    per-user aggregate, so the oracle computes it straight from the
    events table."""
    out = scratch_dir("scan_jsonl_nested", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    nested = ev.groupBy("user_id").agg(
        F.struct(
            bcount().alias("n"),
            F.round(dsum("value"), 6).alias("total"),
        ).alias("stats"),
        F.sort_array(F.collect_set("event_type")).alias("event_types"),
    )
    nested.write.mode("overwrite").json(out)
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField(
                "stats",
                T.StructType(
                    [
                        T.StructField("n", T.LongType()),
                        T.StructField("total", T.DoubleType()),
                    ]
                ),
            ),
            T.StructField("event_types", T.ArrayType(T.StringType())),
        ]
    )
    back = spark.read.schema(schema).json(out)
    return back.select(
        "user_id",
        F.col("stats.n").alias("n_events"),
        F.col("stats.total").alias("total_value"),
        F.array_join("event_types", ",").alias("types"),
    )


_JSONL_NESTED_SQL = f"""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       round({dsum_sql('value')}, 6) AS total_value,
       string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types
FROM events
GROUP BY user_id
"""


def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write supplier as ORC (the other columnar format the HDInsight
    reference stack speaks), re-read and verify against the source."""
    out = scratch_dir("scan_orc_roundtrip", sf_dir)
    load_table(spark, sf_dir, "supplier").write.mode("overwrite").orc(out)
    return spark.read.schema(TABLE_SCHEMAS["supplier"]).orc(out)


def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders partitioned by order year, read back and count per
    partition. The re-read groupBy hits only partition metadata + one
    column; partition pruning on o_year is what makes time-sliced
    pipelines (the reference's ADF model) cheap at scale."""
    out = scratch_dir("sink_parquet_partitioned", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    orders.withColumn("o_year", F.year("o_orderdate")).write.mode(
        "overwrite"
    ).partitionBy("o_year").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy(F.col("o_year").cast("long").alias("o_year")).agg(
        bcount().alias("n_orders")
    )


_SINK_PARTITIONED_SQL = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY 1
"""


def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read ONE year out of a year-partitioned orders layout: the
    o_year predicate is a PartitionFilter, so only that partition's
    files are listed and scanned - the access pattern that makes
    time-sliced pipelines O(slice), not O(history), at 100 TB
    (tests/test_plans.py pins the PartitionFilters plan shape)."""
    out = scratch_dir("scan_partition_pruned", sf_dir)

    def build() -> None:
        orders = load_table(spark, sf_dir, "orders")
        orders.withColumn("o_year", F.year("o_orderdate")).write.partitionBy(
            "o_year"
        ).parquet(out)

    build_once(out, sf_dir, build)
    back = spark.read.parquet(out).where(F.col("o_year") == 1996)
    return back.groupBy("o_orderstatus").agg(
        bcount().alias("n_orders"),
        F.max("o_totalprice").alias("max_price"),
    )


_SCAN_PRUNED_SQL = """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
       MAX(o_totalprice) AS max_price
FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1
"""


def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read evolution: an old snapshot written without the
    o_orderpriority column and a new snapshot written with it live in
    one dataset; mergeSchema unifies them on read, NULL-filling the
    missing column - how a long-lived lakehouse table absorbs schema
    change without rewriting history. Old = orders before 1997, new =
    the rest."""
    out = scratch_dir("scan_schema_evolution", sf_dir)

    def build() -> None:
        orders = load_table(spark, sf_dir, "orders")
        cutoff = F.lit("1997-01-01").cast("timestamp")
        orders.where(F.col("o_orderdate") < cutoff).drop(
            "o_orderpriority"
        ).write.parquet(os.path.join(out, "v_old"))
        orders.where(F.col("o_orderdate") >= cutoff).write.parquet(
            os.path.join(out, "v_new")
        )

    build_once(out, sf_dir, build)
    back = spark.read.option("mergeSchema", True).parquet(
        os.path.join(out, "v_old"), os.path.join(out, "v_new")
    )
    return back.groupBy("o_orderstatus").agg(
        bcount().alias("n_orders"),
        F.count("o_orderpriority").cast("long").alias("n_with_priority"),
    )


_SCAN_EVOLUTION_SQL = """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                       THEN o_orderpriority END) AS BIGINT) AS n_with_priority
FROM orders GROUP BY 1
"""

# events.ts on disk is INT64 ns (see sources/tables.py); the stream
# source reads the raw physical schema.
_EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def source_stream_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treat the events parquet as a streaming file source (the Spark
    analog of the reference's Event Hub -> blob archive ingest): one
    availableNow pass, counts per event_type into a memory sink.
    Deterministic, so it still carries a full oracle - streaming and
    batch must agree."""
    stream = (
        # Glob pattern: the streaming file source requires a directory
        # or glob (basePath), not a bare file path.
        spark.readStream.schema(_EVENTS_RAW_SCHEMA)
        .parquet(f"{sf_dir}/events.parque[t]")
        .groupBy("event_type")
        .agg(bcount().alias("n_events"))
    )
    return drain(stream, mode="complete")[0]


_STREAM_SOURCE_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""


def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary ingest via the ``binaryFile`` source — the entry
    point of a multimodal pipeline (image/audio payloads land as files;
    Spark lists them in parallel and each task reads its own split).

    The fixture is one .txt file per src0 document, written
    DISTRIBUTEDLY by partitioning the text write on doc_id (no driver
    collect — the same pattern writes a billion files from 1000
    executors). The re-read proves content fidelity end to end: byte
    length and md5 digest of each file must equal the oracle's
    recomputation from the source table (the text writer appends one
    trailing newline per line, hence the ``|| chr(10)``)."""
    out = scratch_dir("scan_binary_files", sf_dir)
    docs = load_table(spark, sf_dir, "documents").where(F.col("source") == "src0")
    docs.select("doc_id", F.col("text").alias("value")).write.mode(
        "overwrite"
    ).partitionBy("doc_id").text(out)
    binf = spark.read.format("binaryFile").load(os.path.join(out, "doc_id=*"))
    return binf.select(
        F.regexp_extract("path", r"doc_id=(\d+)", 1).cast("long").alias("doc_id"),
        F.length("content").cast("long").alias("n_bytes"),
        F.md5("content").alias("digest"),
    )


_SCAN_BINARY_SQL = """
SELECT doc_id,
       CAST(length(text) + 1 AS BIGINT) AS n_bytes,
       md5(text || chr(10)) AS digest
FROM documents WHERE source = 'src0'
"""


_PYDS_PARTS = 4
_PYDS_ROWS_PER_PART = 250
_PYDS_MOD = 97
_PYDS_MULT = 2654435761  # Knuth multiplicative-hash constant


def _make_synth_source():
    """Build the DataSource class lazily (the datasource module import
    belongs inside the function so module import stays cheap)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _SynthReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(_PYDS_PARTS)]

        def read(self, partition):
            pid = partition.value
            base = pid * _PYDS_ROWS_PER_PART
            for i in range(_PYDS_ROWS_PER_PART):
                rid = base + i
                yield (rid, pid, (rid * _PYDS_MULT) % _PYDS_MOD)

    class SynthRangeSource(DataSource):
        @classmethod
        def name(cls):
            return "c360_synth_range"

        def schema(self):
            return "id bigint, part_id bigint, bucket bigint"

        def reader(self, schema):
            return _SynthReader()

    return SynthRangeSource


def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python Data Source API: a custom partition-parallel
    source (the extension point for bespoke connectors — feeds,
    internal services, exotic formats) registered and read through the
    normal ``spark.read.format(...)`` path. Each of the 4 input
    partitions generates its rows as a pure function of the partition
    id, so the read is deterministic, embarrassingly parallel, and
    driver-free — the planner schedules one task per InputPartition
    exactly as it would for file splits. The aggregate on top proves
    the rows flow through the ordinary Catalyst pipeline."""
    try:
        spark.dataSource.register(_make_synth_source())
    except Exception:
        pass  # already registered in this session — re-register is a no-op race
    df = spark.read.format("c360_synth_range").load()
    return df.groupBy("bucket").agg(
        bcount().alias("n"),
        F.sum("id").cast("long").alias("sum_id"),
        F.countDistinct("part_id").cast("long").alias("n_parts"),
    )


_PYDS_SQL = f"""
WITH rows AS (
  SELECT r.range AS id,
         r.range // {_PYDS_ROWS_PER_PART} AS part_id,
         (r.range * {_PYDS_MULT}) % {_PYDS_MOD} AS bucket
  FROM range({_PYDS_PARTS * _PYDS_ROWS_PER_PART}) r)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(id) AS BIGINT) AS sum_id,
       CAST(COUNT(DISTINCT part_id) AS BIGINT) AS n_parts
FROM rows GROUP BY bucket
"""


_PYSTREAM_BATCHES = 4
_PYSTREAM_ROWS = 250


def _make_synth_stream_source():
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class _StreamReader(SimpleDataSourceStreamReader):
        """Offset-tracked synthetic stream: batch b yields rows
        [b*R, (b+1)*R); after _PYSTREAM_BATCHES the offset stops
        advancing (caught up). Replays between offsets are exact —
        the recovery contract of the simple-reader API."""

        def initialOffset(self):
            return {"b": 0}

        def _rows(self, b):
            base = b * _PYSTREAM_ROWS
            return [
                (base + i, (base + i) * 7 % 31) for i in range(_PYSTREAM_ROWS)
            ]

        def read(self, start):
            b = start["b"]
            if b >= _PYSTREAM_BATCHES:
                return iter([]), {"b": b}
            return iter(self._rows(b)), {"b": b + 1}

        def readBetweenOffsets(self, start, end):
            out = []
            for b in range(start["b"], end["b"]):
                out.extend(self._rows(b))
            return iter(out)

    class SynthStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "c360_synth_stream"

        def schema(self):
            return "id bigint, bucket bigint"

        def simpleStreamReader(self, schema):
            return _StreamReader()

    return SynthStreamSource


def source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python STREAMING Data Source (SimpleDataSourceStreamReader):
    the custom streaming-connector extension point — an offset-tracked
    Python reader (the Kafka-less feed/API-poller shape) driven through
    real micro-batch execution. The source does not support
    Trigger.AvailableNow (verified: Spark falls back to one batch), so
    the drain runs a processingTime trigger until the deterministic
    row budget arrives, asserting the data really crossed >= 2
    micro-batch commits. Aggregated through the ordinary Catalyst
    pipeline; the oracle reproduces the synthetic rows in closed form."""
    try:
        spark.dataSource.register(_make_synth_stream_source())
    except Exception:
        pass  # already registered this session
    want = _PYSTREAM_BATCHES * _PYSTREAM_ROWS
    got, _ = drain(
        spark.readStream.format("c360_synth_stream").load(),
        trigger={"processingTime": "0 seconds"},
        until=lambda progress: sum(p["numInputRows"] for p in progress) >= want,
        min_batches=2,
    )
    return got.groupBy("bucket").agg(
        bcount().alias("n"), F.sum("id").cast("long").alias("sum_id")
    )


_PYSTREAM_SQL = f"""
WITH rows AS (
  SELECT r.range AS id, (r.range * 7) % 31 AS bucket
  FROM range({_PYSTREAM_BATCHES * _PYSTREAM_ROWS}) r)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(id) AS BIGINT) AS sum_id
FROM rows GROUP BY bucket
"""


def scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text source (one row per line): write each document's text
    prefixed with its id as plain lines, read back with spark.read.text
    and parse the id out — the raw-log ingestion shape. Line order
    within files is storage-defined, so the query re-keys on the parsed
    id and verifies content by length + md5."""
    out = scratch_dir("scan_text_lines", sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    docs.select(
        F.concat(F.col("doc_id"), F.lit("\t"), F.col("text")).alias("value")
    ).write.mode("overwrite").text(out)
    back = spark.read.text(out)
    tab = F.instr("value", "\t")
    body = F.expr("substring(value, instr(value, '\t') + 1)")
    return back.select(
        F.substring("value", F.lit(1), tab - 1).cast("long").alias("doc_id"),
        F.length(body).cast("long").alias("n_chars"),
        F.md5(body).alias("text_md5"),
    )


_SCAN_TEXT_SQL = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       md5(text) AS text_md5
FROM documents
"""


def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE malformed-record handling: a CSV where every 13th
    line is broken (truncated column list) is read with an explicit
    schema + _corrupt_record column — bad rows surface as data instead
    of killing the job (the only survivable contract for 100 TB
    ingestion). The result splits clean/corrupt counts and aggregates
    only clean values; the oracle recomputes both from the same
    deterministic construction, no file I/O needed."""
    out = scratch_dir("scan_csv_malformed", sf_dir)
    cu = load_table(spark, sf_dir, "customer")
    line = F.when(
        F.col("c_custkey") % 13 == 0,
        F.concat(F.col("c_custkey"), F.lit(",BROKEN")),
    ).otherwise(
        F.concat_ws(
            ",",
            F.col("c_custkey"),
            F.col("c_acctbal"),
            F.col("c_mktsegment"),
        )
    )
    cu.select(line.alias("value")).write.mode("overwrite").text(out)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("bal", T.DoubleType()),
            T.StructField("seg", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    return back.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1))
        .cast("long")
        .alias("n_clean"),
        F.count("_corrupt_record").cast("long").alias("n_corrupt"),
        dsum(F.when(F.col("_corrupt_record").isNull(), F.col("bal"))).alias(
            "sum_clean_bal"
        ),
    )


_CSV_MALFORMED_SQL = f"""
SELECT CAST(COUNT(*) FILTER (WHERE c_custkey % 13 <> 0) AS BIGINT) AS n_clean,
       CAST(COUNT(*) FILTER (WHERE c_custkey % 13 = 0) AS BIGINT) AS n_corrupt,
       {dsum_sql('CASE WHEN c_custkey % 13 <> 0 THEN c_acctbal END')}
         AS sum_clean_bal
FROM customer
"""


def sink_parquet_zstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-controlled parquet sink: write lineitem zstd-compressed
    (the lakehouse default for cold data — ~30% smaller than snappy at
    similar scan speed), read it back and prove byte-level fidelity
    with per-flag aggregates. The compression choice is a pure write
    option; the reread plan is identical to any parquet scan."""
    out = scratch_dir("sink_parquet_zstd", sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    li.write.mode("overwrite").option("compression", "zstd").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("l_returnflag").agg(
        bcount().alias("n_rows"),
        dsum("l_extendedprice").alias("sum_price"),
    )


_SINK_ZSTD_SQL = f"""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {dsum_sql('l_extendedprice')} AS sum_price
FROM lineitem GROUP BY l_returnflag
"""


_COMPACT_SHARDS = 4


def maint_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-maintenance compaction: rewrite a small-file-fragmented
    events copy (32 tiny parquet files — the classic streaming-sink
    pathology) into _COMPACT_SHARDS files, then verify the compacted
    copy by aggregating per shard. Shards are FIXED key ranges
    (event_id mod), so file contents are deterministic and the oracle
    recomputes the same partitions straight from the source table.

    At 100 TB this is the periodic OPTIMIZE job every streaming lake
    needs: the rewrite is one hash shuffle on the shard key, reads and
    writes stream through executors (no driver materialization), and
    the per-shard aggregate proves no row was lost or duplicated."""
    frag = scratch_dir("maint_frag_events", sf_dir)

    def build() -> None:
        load_table(spark, sf_dir, "events").repartition(32).write.parquet(frag)

    build_once(frag, sf_dir, build)
    compacted = scratch_dir("maint_compact_events", sf_dir)
    small = spark.read.parquet(frag).withColumn(
        "shard", (F.col("event_id") % _COMPACT_SHARDS).cast("int")
    )
    (
        small.repartition(_COMPACT_SHARDS, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(compacted)
    )
    back = spark.read.parquet(compacted)
    return back.groupBy(F.col("shard").cast("long").alias("shard")).agg(
        bcount().alias("n_rows"),
        F.min("event_id").cast("long").alias("min_event_id"),
        F.max("event_id").cast("long").alias("max_event_id"),
        dsum("value").alias("sum_value"),
    )


_COMPACT_SQL = f"""
SELECT CAST(event_id % {_COMPACT_SHARDS} AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(event_id) AS BIGINT) AS min_event_id,
       CAST(MAX(event_id) AS BIGINT) AS max_event_id,
       {dsum_sql('value')} AS sum_value
FROM events GROUP BY 1
"""


def scan_recursive_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recursiveFileLookup ingestion over an arbitrarily nested landing
    zone (the date-tree dumps upstream systems produce when they are
    NOT partitioned tables): events written under depth-varying
    subdirectories, read back with one recursive scan and aggregated.
    The directory names carry no partition semantics — that is the
    point; scan_partition_pruned covers the partition-discovery path."""
    root = scratch_dir("scan_recursive_glob", sf_dir)

    def build() -> None:
        ev = load_table(spark, sf_dir, "events")
        for bucket, sub in [
            (0, "a/2024/01"),
            (1, "a/2024/02x"),
            (2, "b/deep/er/still"),
            (3, "c"),
        ]:
            ev.where(F.col("event_id") % 4 == bucket).write.parquet(
                os.path.join(root, "data", sub)
            )

    build_once(root, sf_dir, build)
    df = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(root, "data")
    )
    return df.groupBy("event_type").agg(
        bcount().alias("n_events"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


_RECURSIVE_GLOB_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(event_id) AS BIGINT) AS min_id,
       CAST(MAX(event_id) AS BIGINT) AS max_id
FROM events GROUP BY event_type
"""


QUERIES = {
    "scan_csv_malformed": scan_csv_malformed,
    "scan_jsonl_nested": scan_jsonl_nested,
    "scan_recursive_glob": scan_recursive_glob,
    "scan_text_lines": scan_text_lines,
    "sink_parquet_zstd": sink_parquet_zstd,
    "maint_compact_small_files": maint_compact_small_files,
    "scan_parquet": scan_parquet,
    "source_python_datasource": source_python_datasource,
    "source_python_stream": source_python_stream,
    "scan_project_pushdown": scan_project_pushdown,
    "scan_csv_roundtrip": scan_csv_roundtrip,
    "scan_json_roundtrip": scan_json_roundtrip,
    "scan_orc_roundtrip": scan_orc_roundtrip,
    "sink_parquet_partitioned": sink_parquet_partitioned,
    "scan_partition_pruned": scan_partition_pruned,
    "scan_schema_evolution": scan_schema_evolution,
    "scan_binary_files": scan_binary_files,
    "source_stream_files": source_stream_files,
}

ORACLE = {
    "scan_csv_malformed": _CSV_MALFORMED_SQL,
    "scan_recursive_glob": _RECURSIVE_GLOB_SQL,
    "scan_text_lines": _SCAN_TEXT_SQL,
    "sink_parquet_zstd": _SINK_ZSTD_SQL,
    "maint_compact_small_files": _COMPACT_SQL,
    "scan_parquet": _SCAN_PARQUET_SQL,
    "source_python_datasource": _PYDS_SQL,
    "source_python_stream": _PYSTREAM_SQL,
    "scan_project_pushdown": _SCAN_PUSHDOWN_SQL,
    "scan_csv_roundtrip": "SELECT * FROM region",
    "scan_json_roundtrip": "SELECT * FROM nation",
    "scan_jsonl_nested": _JSONL_NESTED_SQL,
    "scan_orc_roundtrip": "SELECT * FROM supplier",
    "sink_parquet_partitioned": _SINK_PARTITIONED_SQL,
    "scan_partition_pruned": _SCAN_PRUNED_SQL,
    "scan_schema_evolution": _SCAN_EVOLUTION_SQL,
    "scan_binary_files": _SCAN_BINARY_SQL,
    "source_stream_files": _STREAM_SOURCE_SQL,
}


def scan_csv_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV hard mode: values with embedded NEWLINES, commas, and double
    quotes, round-tripped through quoted CSV and re-read with
    multiLine=true + escaped quote handling. The synthesized note
    column embeds every CSV-hostile character class, derived purely
    from nation columns so the oracle reconstructs the expected rows
    without touching the file.

    multiLine=true is the expensive mode by design — records can span
    line boundaries, so files aren't blindly splittable at newlines;
    Spark falls back to per-file parsing. The op documents that
    contract (and the test data keeps per-file sizes bounded, which is
    exactly how you'd keep ingest parallel at 100 TB: many files, not
    splittable big ones)."""
    out = scratch_dir("scan_csv_multiline", sf_dir)
    nation = load_table(spark, sf_dir, "nation")
    tricky = nation.select(
        "n_nationkey",
        "n_name",
        F.concat(
            F.lit('line1 "'),
            F.col("n_name"),
            F.lit('"\ncomma,then\nline3: '),
            F.col("n_nationkey").cast("string"),
        ).alias("note"),
    )
    tricky.write.mode("overwrite").option("header", True).option(
        "quoteAll", True
    ).option("escape", '"').csv(out)  # RFC 4180 doubled quotes, both sides
    schema = "n_nationkey INT, n_name STRING, note STRING"
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(out)
        .select(
            F.col("n_nationkey").cast("long").alias("n_nationkey"),
            "n_name",
            # emit newline-free canonical form (value-hash canon treats
            # output as single-line strings)
            F.regexp_replace("note", "\n", "\\\\n").alias("note_flat"),
            F.length("note").cast("long").alias("note_len"),
        )
    )


_SCAN_CSV_MULTILINE_SQL = """
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
       n_name,
       'line1 "' || n_name || '"\\ncomma,then\\nline3: '
         || CAST(n_nationkey AS VARCHAR) AS note_flat,
       CAST(length('line1 "' || n_name || '"') + 1 + length('comma,then')
            + 1 + length('line3: ' || CAST(n_nationkey AS VARCHAR))
            AS BIGINT) AS note_len
FROM nation
"""

QUERIES["scan_csv_multiline"] = scan_csv_multiline
ORACLE["scan_csv_multiline"] = _SCAN_CSV_MULTILINE_SQL


def scan_metadata_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden file-metadata columns: read a freshly written
    priority-partitioned orders layout back through the `_metadata`
    struct (file_name, row_index, file_size) and verify the physical
    layout against arithmetic derivable from the logical table.

    The write repartitions on the partition column first, so each
    priority directory holds EXACTLY ONE file; then per partition
    n_files = count(distinct file_name) = 1, max(_metadata.row_index)
    = n_rows - 1 and sum = n*(n-1)/2 — the oracle checks all of them
    from `orders` alone, proving row_index is a true per-file row
    position. Rebuilt unconditionally each run (no stale-scratch
    reuse; the partial-write hazard from ADVICE r4 can't arise).

    At scale this is the lineage/debugging surface: `_metadata` rides
    along the scan for free (no extra I/O beyond the footer), which is
    how a 100 TB pipeline attributes bad rows to source files without
    a filename UDF or an extra join.
    """
    out = scratch_dir("scan_metadata_cols", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition("o_orderpriority").write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(out)
    back = spark.read.parquet(out).select(
        "o_orderpriority",
        F.col("_metadata.file_name").alias("fname"),
        F.col("_metadata.row_index").alias("ri"),
        F.col("_metadata.file_size").alias("fsz"),
    )
    return (
        back.groupBy("o_orderpriority")
        .agg(
            bcount().alias("n_rows"),
            F.countDistinct("fname").cast("long").alias("n_files"),
            F.sum("ri").cast("long").alias("sum_row_index"),
            F.max("ri").cast("long").alias("max_row_index"),
            (F.min("fsz") > 0).cast("int").alias("file_size_positive"),
        )
        .orderBy("o_orderpriority")
    )


_SCAN_METADATA_SQL = """
WITH c AS (
  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM orders GROUP BY 1)
SELECT o_orderpriority, n_rows,
       CAST(1 AS BIGINT) AS n_files,
       CAST((n_rows * (n_rows - 1)) // 2 AS BIGINT) AS sum_row_index,
       n_rows - 1 AS max_row_index,
       CAST(1 AS INT) AS file_size_positive
FROM c ORDER BY o_orderpriority
"""

QUERIES["scan_metadata_cols"] = scan_metadata_cols
ORACLE["scan_metadata_cols"] = _SCAN_METADATA_SQL


def scan_ignore_corrupt_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-file resilience: a dataset directory containing one
    valid nation parquet file plus one garbage file read with
    ``ignoreCorruptFiles`` — the ingest posture for a 100 TB lake
    where a bad upload must not fail the whole pipeline, only drop
    the unreadable split (paired with dq_freshness/observe metrics to
    detect the drop). The aggregate proves the good rows all arrived
    and the corrupt bytes contributed nothing.

    Rebuilt unconditionally each run (fresh write + fresh garbage
    file), so no stale-scratch hazard.
    """
    out = scratch_dir("scan_ignore_corrupt_files", sf_dir)
    nation = load_table(spark, sf_dir, "nation")
    nation.coalesce(1).write.mode("overwrite").parquet(out)
    with open(os.path.join(out, "part-corrupt-bytes.parquet"), "wb") as fh:
        fh.write(b"PAR1 this is not a real parquet file payload \x00\x01\x02")
    back = spark.read.option("ignoreCorruptFiles", "true").parquet(out)
    return (
        back.groupBy("n_regionkey")
        .agg(bcount().alias("n_nations"), F.max("n_name").alias("max_name"))
        .orderBy("n_regionkey")
    )


_SCAN_IGNORE_CORRUPT_SQL = """
SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n_nations,
       MAX(n_name) AS max_name
FROM nation GROUP BY 1 ORDER BY 1
"""

QUERIES["scan_ignore_corrupt_files"] = scan_ignore_corrupt_files
ORACLE["scan_ignore_corrupt_files"] = _SCAN_IGNORE_CORRUPT_SQL


def _make_jsonl_sink_source(out_dir: str):
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class _Msg(WriterCommitMessage):
        def __init__(self, path, count):
            self.path = path
            self.count = count

    class _JsonlWriter(DataSourceWriter):
        def __init__(self, path):
            self.path = path

        def write(self, rows):
            import json as _json
            import os as _os
            import uuid as _uuid

            _os.makedirs(self.path, exist_ok=True)
            fname = _os.path.join(self.path, f"part-{_uuid.uuid4().hex}.jsonl")
            n = 0
            with open(fname, "w") as fh:
                for row in rows:
                    fh.write(_json.dumps(row.asDict()) + "\n")
                    n += 1
            return _Msg(fname, n)

    class _JsonlSink(DataSource):
        @classmethod
        def name(cls):
            return "c360_jsonl_sink"

        def writer(self, schema, overwrite):
            return _JsonlWriter(self.options["path"])

    return _JsonlSink


def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python Data Source API — the WRITER side: a custom sink
    (here JSON-lines files, standing in for any bespoke downstream —
    internal service, exotic format, message bus) registered and
    driven through the normal ``df.write.format(...)`` path, one
    writer per partition with commit messages. The written dataset is
    read back through spark.read.json and aggregated, proving the
    custom sink round-trips every row.

    Scratch is wiped before the write (no stale-file reuse, per the
    ADVICE r4 _SUCCESS lesson — here the wipe is the guard).
    """
    import shutil

    out = scratch_dir("sink_python_datasource", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    try:
        spark.dataSource.register(_make_jsonl_sink_source(out))
    except Exception:
        pass  # already registered in this session
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    orders.write.format("c360_jsonl_sink").option("path", out).mode(
        "append"
    ).save()
    back = spark.read.json(out)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            bcount().alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_keys"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("o_orderpriority")
    )


_PY_SINK_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
       MAX(o_totalprice) AS max_price
FROM orders GROUP BY 1 ORDER BY 1
"""

QUERIES["sink_python_datasource"] = sink_python_datasource
ORACLE["sink_python_datasource"] = _PY_SINK_SQL


# -- Avro round-trip (round 6) ----------------------------------------------

_AVRO_FIELDS = [
    ("s_suppkey", "long"),
    ("s_name", "string"),
    ("s_nationkey", "int"),
    ("s_acctbal", "double"),
]


def scan_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro round-trip WITHOUT the external spark-avro module (absent
    from this distribution — probed: "Failed to find data source:
    avro"): each supplier partition is encoded into one Avro Object
    Container File blob by the from-scratch public-spec codec
    (operators/avro_codec.py — magic/metadata/sync-marker layout,
    zigzag-varint ints, IEEE doubles), persisted through a real
    distributed parquet sink, re-read, and decoded map-only. Encode
    and decode are both Arrow-batched mapInPandas with no shuffle and
    no driver collect: at 100 TB this is one container blob per input
    split, the same shape a fleet of executors writing avro to object
    storage would produce. The decode validates magic, writer schema,
    block lengths, and every sync marker, so the round-trip proves
    byte-level format fidelity, not just value equality."""
    import pandas as pd

    from .avro_codec import decode_container, encode_container

    out = scratch_dir("scan_avro_roundtrip", sf_dir)
    sup = load_table(spark, sf_dir, "supplier").select(
        *[n for n, _ in _AVRO_FIELDS]
    )

    fields = list(_AVRO_FIELDS)

    def _encode(batches):
        for pdf in batches:
            blob = encode_container(
                pdf.itertuples(index=False, name=None), fields
            )
            yield pd.DataFrame({"avro": [blob]})

    blob_schema = T.StructType([T.StructField("avro", T.BinaryType())])
    sup.repartition(4, "s_suppkey").mapInPandas(_encode, blob_schema).write.mode(
        "overwrite"
    ).parquet(out)

    def _decode(batches):
        for pdf in batches:
            for blob in pdf["avro"]:
                _, rows = decode_container(bytes(blob))
                yield pd.DataFrame(
                    rows, columns=[n for n, _ in fields]
                ).astype(
                    {"s_suppkey": "int64", "s_nationkey": "int32"}
                )

    return spark.read.parquet(out).mapInPandas(
        _decode, TABLE_SCHEMAS["supplier"]
    )


_SCAN_AVRO_SQL = """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
"""

QUERIES["scan_avro_roundtrip"] = scan_avro_roundtrip
ORACLE["scan_avro_roundtrip"] = _SCAN_AVRO_SQL


def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML file-source round-trip via the XML reader/writer bundled in
    Spark 4 (the last built-in file format without a scan id): write
    supplier as one ``<supplier>`` row element per record, re-read
    with an EXPLICIT schema + rowTag (schema inference over XML is a
    full extra pass at 100 TB, and infers long for string-typed digit
    runs). Doubles survive textual round-trip exactly because the JVM
    writer emits the shortest string that parses back to the same
    IEEE value (Double.toString contract).

    Scale: read and write are both splittable per-file (one XML file
    per task, rows streamed through the StAX parser) — the same
    partition-per-file shape as the JSON-lines round-trip."""
    out = scratch_dir("scan_xml_roundtrip", sf_dir)
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    sup.write.mode("overwrite").format("xml").option("rowTag", "supplier").save(out)
    schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .option("rowTag", "supplier")
        .format("xml")
        .load(out)
    )


_SCAN_XML_SQL = """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
"""

QUERIES["scan_xml_roundtrip"] = scan_xml_roundtrip
ORACLE["scan_xml_roundtrip"] = _SCAN_XML_SQL


def scan_xml_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE malformed-record handling for the XML source (the
    scan_csv_malformed contract on the last bundled format). XML's
    corruption granularity is COARSER than CSV's line-level one:
    probed on this runtime, a parse error poisons the stream from the
    bad element to end-of-file, which all lands in ONE _corrupt_record
    row — so the real quarantine unit is the FILE, and this op models
    the production case: a fleet of clean part files plus one poison
    file (truncated element), read with explicit schema +
    _corrupt_record. The job survives, every clean file's rows parse,
    the poison file surfaces as exactly one corrupt row; the oracle
    recomputes all three outputs from the construction."""
    import os

    out = scratch_dir("scan_xml_malformed", sf_dir)
    cu = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    # Clean files via the XML WRITER (proper rooted documents — this
    # runtime's reader parses only the FIRST rowTag element of a
    # rootless concatenation and quarantines the rest, probed live).
    cu.write.mode("overwrite").format("xml").option("rowTag", "c").save(out)
    with open(os.path.join(out, "poison.xml"), "w") as f:
        f.write("<ROWS><c><id>999999</id><bal>")  # truncated mid-element
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("bal", T.DoubleType()),
            T.StructField("seg", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("rowTag", "c")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .format("xml")
        .load(out)
    )
    return back.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1))
        .cast("long")
        .alias("n_clean"),
        F.count("_corrupt_record").cast("long").alias("n_corrupt"),
        dsum(F.when(F.col("_corrupt_record").isNull(), F.col("bal"))).alias(
            "sum_clean_bal"
        ),
    )


_SCAN_XML_MALFORMED_SQL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_clean,
       CAST(1 AS BIGINT) AS n_corrupt,
       {dsum_sql('c_acctbal')} AS sum_clean_bal
FROM customer
"""

QUERIES["scan_xml_malformed"] = scan_xml_malformed
ORACLE["scan_xml_malformed"] = _SCAN_XML_MALFORMED_SQL


_PUSH_PARTS = 4
_PUSH_ROWS = 2500
_PUSH_MULT = 7
_PUSH_MOD = 5
_PUSH_BUCKET = 3


def _make_pushdown_source():
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        EqualTo,
        InputPartition,
    )

    class _PushReader(DataSourceReader):
        def __init__(self) -> None:
            self._bucket = None

        def pushFilters(self, filters):
            # Accept EqualTo on bucket; hand everything else (e.g. the
            # planner's IsNotNull) back for Spark to re-apply — the
            # partial-pushdown contract.
            rest = []
            for f in filters:
                if isinstance(f, EqualTo) and f.attribute == ("bucket",):
                    self._bucket = f.value
                else:
                    rest.append(f)
            return rest

        def partitions(self):
            return [InputPartition(i) for i in range(_PUSH_PARTS)]

        def read(self, part):
            lo = part.value * _PUSH_ROWS
            for i in range(lo, lo + _PUSH_ROWS):
                b = (i * _PUSH_MULT) % _PUSH_MOD
                if self._bucket is not None and b != self._bucket:
                    continue
                yield (i, b, 1 if self._bucket is not None else 0)

    class _PushSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "c360_synth_pushdown"

        def schema(self) -> str:
            return "id long, bucket long, pushed long"

        def reader(self, schema):
            return _PushReader()

    return _PushSource


def source_python_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python Data Source FILTER PUSHDOWN (Spark 4.1 pushFilters): the
    reader accepts the EqualTo(bucket) predicate at PLAN time and
    generates only matching rows, returning unsupported filters for
    Spark to re-apply. The ``pushed`` column is the proof: it is 1
    only when pushFilters actually delivered the predicate to the
    reader, and the oracle requires 1 on every row — with pushdown
    silently disabled the result hash-mismatches rather than passing
    on post-filter correctness alone. This is the custom-connector
    scan-reduction contract at 100 TB: predicates cut generated/
    fetched rows at the source, not after transfer."""
    with session_conf(spark, {"spark.sql.python.filterPushdown.enabled": "true"}):
        try:
            spark.dataSource.register(_make_pushdown_source())
        except Exception:
            pass  # already registered in this session
        df = spark.read.format("c360_synth_pushdown").load()
        res = df.where(F.col("bucket") == _PUSH_BUCKET).agg(
            bcount().alias("n"),
            F.sum("id").cast("long").alias("sum_id"),
            F.min("pushed").cast("long").alias("pushed"),
        )
        # Eager localCheckpoint: pushFilters runs at physical planning,
        # so the plan must execute while the conf is set — later
        # materializations replay the checkpointed 1-row result, not
        # the plan. This lets the scope restore the session conf
        # instead of leaking the setting into every subsequent query.
        return res.localCheckpoint()


_PYDS_PUSH_SQL = f"""
WITH rows AS (
  SELECT r.range AS id, (r.range * {_PUSH_MULT}) % {_PUSH_MOD} AS bucket
  FROM range({_PUSH_PARTS * _PUSH_ROWS}) r)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(id) AS BIGINT) AS sum_id,
       CAST(1 AS BIGINT) AS pushed
FROM rows WHERE bucket = {_PUSH_BUCKET}
"""

QUERIES["source_python_pushdown"] = source_python_pushdown
ORACLE["source_python_pushdown"] = _PYDS_PUSH_SQL


def _make_jsonl_stream_sink():
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    class _SMsg(WriterCommitMessage):
        def __init__(self, fname, n):
            self.fname = fname
            self.n = n

    class _StreamJsonlWriter(DataSourceStreamWriter):
        def __init__(self, path):
            self.path = path

        def write(self, rows):
            import json as _json
            import os as _os
            import uuid as _uuid

            _os.makedirs(self.path, exist_ok=True)
            fname = _os.path.join(
                self.path, f"part-{_uuid.uuid4().hex}.jsonl"
            )
            n = 0
            with open(fname, "w") as fh:
                for row in rows:
                    fh.write(_json.dumps(row.asDict()) + "\n")
                    n += 1
            return _SMsg(fname, n)

        def commit(self, messages, batchId) -> None:
            import json as _json
            import os as _os

            # Driver-side epoch commit: record the batch manifest —
            # the exactly-once hook a real sink uses to publish. The
            # manifest NAMES the committed files: read-back goes off
            # the manifests, never a part-* glob, so an orphan from a
            # failed/speculative attempt can never be double-counted.
            with open(
                _os.path.join(self.path, f"_commit_{batchId}.json"), "w"
            ) as fh:
                fh.write(
                    _json.dumps(
                        {
                            "batch": batchId,
                            "rows": sum(m.n for m in messages),
                            "files": [m.fname for m in messages],
                        }
                    )
                )

        def abort(self, messages, batchId) -> None:
            import os as _os

            # Best-effort scrub of this epoch's uncommitted part files
            # (write() creates them before commit; a retry would
            # otherwise leave orphans). Messages can be None for tasks
            # that failed before returning one.
            for m in messages:
                fname = getattr(m, "fname", None)
                if fname:
                    try:
                        _os.remove(fname)
                    except OSError:
                        pass

    class _StreamJsonlSink(DataSource):
        @classmethod
        def name(cls):
            return "c360_jsonl_stream_sink"

        def streamWriter(self, schema, overwrite):
            return _StreamJsonlWriter(self.options["path"])

    return _StreamJsonlSink


def sink_python_stream_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python Data Source STREAMING writer (DataSourceStreamWriter —
    the streaming sibling of sink_python_datasource's batch writer,
    the last uncovered side of the Spark-4 Python connector API): the
    4-batch chronological events replay is written through a
    ``format(...)`` stream sink with per-partition write() returning
    commit messages and a driver-side commit(batchId) publishing an
    epoch manifest — the exactly-once publish hook. The written rows
    are read back and aggregated; a dropped or double-written epoch
    shifts the counts and hash-mismatches. Epoch commit manifests are
    asserted (one per non-empty batch, row totals matching) rather
    than emitted, because batch COUNT is a replay artifact, not query
    semantics."""
    import glob
    import json as _json
    import shutil

    from ..streaming.ops import _events_stream_multi

    out = scratch_dir("sink_python_stream_writer", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    try:
        spark.dataSource.register(_make_jsonl_stream_sink())
    except Exception:
        pass  # already registered in this session
    ev = _events_stream_multi(spark, sf_dir).select(
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        "user_id",
    )
    drain(ev, lambda w: w.format("c360_jsonl_stream_sink").option("path", out))
    commits = []
    for p in glob.glob(os.path.join(out, "_commit_*.json")):
        with open(p) as fh:
            commits.append(_json.load(fh))
    n_committed = sum(c["rows"] for c in commits)
    committed_files = [f for c in commits for f in c.get("files", [])]
    if not committed_files:
        raise AssertionError("no committed epoch manifests found")
    # Read back ONLY the manifest-named files: a part file from an
    # aborted or speculative attempt (present on disk, absent from
    # every manifest) is invisible, exactly as in a real table format.
    back = (
        spark.read.schema("event_id long, event_type string, user_id long")
        .json(committed_files)
    )
    n_rows = back.count()
    if n_committed != n_rows:
        raise AssertionError(
            f"epoch manifests claim {n_committed} rows, sink holds {n_rows}"
        )
    return back.groupBy("event_type").agg(
        bcount().alias("n"),
        F.sum("event_id").cast("long").alias("sum_eid"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


_PYDS_STREAM_SINK_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_eid,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1
"""

QUERIES["sink_python_stream_writer"] = sink_python_stream_writer
ORACLE["sink_python_stream_writer"] = _PYDS_STREAM_SINK_SQL


def scan_parquet_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT through parquet storage (Spark 4 shredded-variant
    support): each event's semi-structured payload is enriched into a
    VARIANT value (object + nested array), WRITTEN to parquet as a
    variant-typed column, read back, and re-projected with
    variant_get / typeof — proving the type round-trips storage, not
    just memory (fn_variant covers the in-memory expression surface).
    Map-only on both passes; variant shredding keeps the parquet
    column scannable at 100 TB instead of a JSON-string blob."""
    ev = load_table(spark, sf_dir, "events").where("event_id % 11 = 0")
    ev.createOrReplaceTempView("variant_events_src")
    enriched = spark.sql(
        """
        SELECT event_id,
               parse_json(concat(
                 '{"k":', get_json_object(props, '$.k'),
                 ',"type":"', event_type,
                 '","ids":[', user_id, ',', event_id, ']}')) AS v
        FROM variant_events_src
        """
    )
    out_dir = os.path.join(
        scratch_dir("scan_parquet_variant", sf_dir), "data"
    )
    enriched.write.mode("overwrite").parquet(out_dir)
    back = spark.read.parquet(out_dir)
    back.createOrReplaceTempView("variant_events_back")
    return spark.sql(
        """
        SELECT CAST(event_id AS BIGINT) AS event_id,
               variant_get(v, '$.k', 'bigint') AS k_back,
               variant_get(v, '$.type', 'string') AS type_back,
               variant_get(v, '$.ids[0]', 'bigint')
                 + variant_get(v, '$.ids[1]', 'bigint') AS ids_sum,
               schema_of_variant(v) AS vschema
        FROM variant_events_back
        """
    )


_SCAN_VARIANT_SQL = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_back,
       event_type AS type_back,
       CAST(user_id + event_id AS BIGINT) AS ids_sum,
       'OBJECT<ids: ARRAY<BIGINT>, k: BIGINT, type: STRING>' AS vschema
FROM events WHERE event_id % 11 = 0
"""

QUERIES["scan_parquet_variant"] = scan_parquet_variant
ORACLE["scan_parquet_variant"] = _SCAN_VARIANT_SQL
