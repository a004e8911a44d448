"""Structured Streaming operators (SURVEY.md §2.10).

Each registered query runs a REAL streaming job: parquet file source ->
incremental plan -> availableNow trigger (drain everything, then stop)
-> memory/parquet sink, and returns the sink contents as the result
DataFrame. Where the drained result is deterministic (tumbling/sliding/
session windows, dedup, stateful counts, foreachBatch upsert) it
carries a full DuckDB oracle - streaming MUST agree with batch. The
watermark/late-data operator is S-tier: its result depends on
micro-batch boundaries, so the registered form is a smoke and the
multi-batch semantics are pinned in tests/test_streaming.py.

Every query runs through ``session.drain``, which owns its name,
shuffle partitions, checkpoint, wait, stall timeout and cleanup; an op
keeps only its plan and its sink body (foreachBatch, foreach, a
format). ``_fold_versions`` is the one foreachBatch fold into versioned
``sink/v<batch>`` parquet state.

This mirrors the reference's ingest path (Event Hub -> Stream Analytics
hourly archival; SURVEY.md §3.1 [UPSTREAM, recalled]) as
readStream -> windowed agg -> sink. At scale the state store is
per-key-partition (RocksDB-backed on a real cluster) and watermarks
bound it; nothing here accumulates unbounded driver state.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..compat import bcount, dsum, dsum_sql, epoch_us, epoch_us_sql
from ..operators.scans import _EVENTS_RAW_SCHEMA
from ..operators.sketches import _hll_sql
from ..session import drain, session_conf
from ..sources.derived import build_once, scratch_dir
from ..sources.tables import load_table, raw_ts_to_timestamp

_MULTI_FILES = 4  # micro-batches in the multi-batch streaming forms


def _events_ts_is_int64(sf_dir: str) -> bool:
    """True when events.parquet stores ts as physical INT64 (the
    testdata's timestamp[ns] layout, readable through the LongType-
    forced raw schema). Spark-written blow-up copies store INT96/
    timestamp physicals instead, which that forced read rejects — peek
    the footer once and branch."""
    import glob

    import pyarrow.parquet as pq

    path = f"{sf_dir}/events.parquet"
    f = path
    if os.path.isdir(path):
        f = sorted(glob.glob(os.path.join(path, "part-*")))[0]
    schema = pq.read_metadata(f).schema
    return schema.column(schema.names.index("ts")).physical_type == "INT64"


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming view of the events table with the same ts normalization
    as the batch loader (ns long -> µs timestamp); timestamp-physical
    files (blow-up copies) stream through their embedded schema."""
    if not _events_ts_is_int64(sf_dir):
        sch = load_table(spark, sf_dir, "events").schema
        return spark.readStream.schema(sch).parquet(f"{sf_dir}/events.parque[t]")
    raw = spark.readStream.schema(_EVENTS_RAW_SCHEMA).parquet(f"{sf_dir}/events.parque[t]")
    return raw.withColumn("ts", raw_ts_to_timestamp("ts"))


def _replay_src(
    spark: SparkSession,
    sf_dir: str,
    qid: str,
    frame: Callable[[SparkSession, str], DataFrame],
    key: str,
    n_files: int = _MULTI_FILES,
    sentinel: Callable[[DataFrame, str], None] | None = None,
) -> str:
    """Materialize ``frame(spark, sf_dir)`` (once per input state, see
    sources/derived.py) as ``n_files`` ``key``-range parquet files, plus
    the file ``sentinel(df, out)`` may add, so a maxFilesPerTrigger=1
    stream replays it as a sequence of ordered micro-batches — the
    state store must then merge state ACROSS batches instead of seeing
    one big batch.

    The file source replays files in MODIFICATION-TIME order, and one
    write job stamps every part file with the same mtime - so batch
    order would be arbitrary, turning early files into late data the
    watermark silently drops (observed: lost stream-stream join
    matches). Ascending mtimes are stamped in min(key) order so replay
    follows the key."""
    import glob

    import pyarrow.parquet as pq

    out = scratch_dir(qid, sf_dir)

    def build() -> None:
        df = frame(spark, sf_dir)
        df.repartitionByRange(n_files, key).write.parquet(out)
        if sentinel is not None:
            sentinel(df, out)

        def lo(path: str) -> int:
            md = pq.read_metadata(path)
            idx = md.schema.names.index(key)
            return min(
                md.row_group(g).column(idx).statistics.min
                for g in range(md.num_row_groups)
            )

        parts = glob.glob(os.path.join(out, "part-*.parquet"))
        base = int(os.path.getmtime(parts[0]))
        for k, p in enumerate(sorted(parts, key=lo)):
            os.utime(p, (base + k, base + k))

    return build_once(out, sf_dir, build, frame, sentinel, key, n_files)


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events through the batch loader with ts stored as raw epoch-µs
    longs: the replay read is one forced-long schema + magnitude branch
    regardless of how the source dir encoded its timestamps (testdata
    int64-ns vs Spark INT96)."""
    return load_table(spark, sf_dir, "events").withColumn("ts", epoch_us("ts"))


def _events_multifile_src(spark: SparkSession, sf_dir: str) -> str:
    """events as _MULTI_FILES chronological replay files."""
    return _replay_src(spark, sf_dir, "events_multifile", _events_us, "ts")


def _events_stream_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming view of events that arrives over _MULTI_FILES
    chronological micro-batches (maxFilesPerTrigger=1; availableNow
    honors it and drains every file)."""
    src = _events_multifile_src(spark, sf_dir)
    raw = (
        spark.readStream.schema(_EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return raw.withColumn("ts", raw_ts_to_timestamp("ts"))


def _docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming view of the documents table (no ts normalization —
    the corpus is not temporal)."""
    sch = load_table(spark, sf_dir, "documents").schema
    return spark.readStream.schema(sch).parquet(f"{sf_dir}/documents.parque[t]")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _docs_stream_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming view of documents arriving over _MULTI_FILES
    micro-batches (maxFilesPerTrigger=1 under availableNow)."""
    src = _replay_src(spark, sf_dir, "docs_multifile", _documents, "doc_id")
    sch = load_table(spark, sf_dir, "documents").schema
    return (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows x event_type (the reference's hourly
    archival shape). Epoch-aligned buckets match DuckDB time_bucket."""
    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        dsum("value").alias("sum_value"),
    )
    out = agg.select(
        F.unix_micros(F.col("window.start")).cast("long").alias("win_start_us"),
        "event_type",
        "n_events",
        "sum_value",
    )
    return drain(out, mode="complete")[0]


_TUMBLING_SQL = f"""
SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS win_start_us,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {dsum_sql('value')} AS sum_value
FROM events GROUP BY 1, 2
"""


def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes (each event lands in 4
    overlapping windows)."""
    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour", "15 minutes")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    out = agg.select(
        F.unix_micros(F.col("window.start")).cast("long").alias("win_start_us"),
        F.unix_micros(F.col("window.end")).cast("long").alias("win_end_us"),
        "n_events",
    )
    return drain(out, mode="complete")[0]


# An event at t belongs to the 4 sliding windows starting at
# bucket15(t) - k*15min, k=0..3 (those with start <= t < start+1h).
_SLIDING_SQL = """
WITH expanded AS (
  SELECT epoch_us(time_bucket(INTERVAL 15 MINUTE, ts)) - k.k * 900000000 AS win_start_us
  FROM events, (SELECT UNNEST(range(4)) AS k) k)
SELECT win_start_us, win_start_us + 3600000000 AS win_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM expanded GROUP BY 1
"""


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-min gap) per user: Spark merges
    events whose [t, t+30m) intervals overlap, so a gap of exactly
    30 minutes starts a NEW session; session end = last event + gap."""
    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    out = agg.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).cast("long").alias("sess_start_us"),
        F.unix_micros(F.col("session_window.end")).cast("long").alias("sess_end_us"),
        "n_events",
    )
    return drain(out, mode="complete")[0]


_SESSION_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t FROM events),
flagged AS (
  SELECT user_id, t,
         CASE WHEN t - LAG(t) OVER w IS NULL
                OR t - LAG(t) OVER w >= 1800000000 THEN 1 ELSE 0 END AS is_start
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
numbered AS (
  SELECT user_id, t,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY t
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged)
SELECT user_id,
       CAST(MIN(t) AS BIGINT) AS sess_start_us,
       CAST(MAX(t) + 1800000000 AS BIGINT) AS sess_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM numbered GROUP BY user_id, sid
"""


def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute watermark + tumbling agg in append mode. S-tier: what
    reaches the sink depends on micro-batch boundaries (append emits
    only windows whose end <= final watermark), so the registered form
    is a smoke; tests/test_streaming.py pins the late-drop accounting
    across explicit multi-file micro-batches."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    out = agg.select(
        F.unix_micros(F.col("window.start")).cast("long").alias("win_start_us"),
        "event_type",
        "n_events",
    )
    return drain(out, mode="append")[0]


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup within the watermark: the stream is unioned with
    itself (every event arrives twice) and
    dropDuplicatesWithinWatermark must emit each event_id exactly
    once - verified by the full oracle (distinct event ids)."""
    a = _events_stream(spark, sf_dir)
    b = _events_stream(spark, sf_dir)
    doubled = a.unionByName(b).withWatermark("ts", "10 minutes")
    deduped = doubled.dropDuplicatesWithinWatermark(["event_id"]).select("event_id")
    return drain(deduped, mode="append")[0]


_DEDUP_SQL = "SELECT event_id FROM events"

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)
_STATE_STATE_SCHEMA = T.StructType([T.StructField("count", T.LongType())])


_BURST_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n_errors", T.LongType()),
    ]
)
# (current run length, run start µs, run end µs)
_BURST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("run_len", T.LongType()),
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
    ]
)


def _burst_state_fn(key, pdf_iter, state):
    """Streaming pattern detector: maximal runs of >= 3 consecutive
    'error' events, emitted when a non-error event CLOSES the run (the
    open tail of the stream is never emitted — same contract as the
    oracle). The run (length, span) survives micro-batch boundaries in
    the state store; within a batch rows are sorted by (ts, event_id),
    and chronological batch order (the multi-file source invariant)
    makes cross-batch concatenation a single sorted timeline."""
    import pandas as pd

    run_len, start_us, end_us = (
        tuple(state.get) if state.exists else (0, 0, 0)
    )
    out = []
    pdf = pd.concat(list(pdf_iter))
    pdf = pdf.sort_values(["ts", "event_id"])
    import pandas as _pd

    ts_us = ((pdf["ts"] - _pd.Timestamp(0)) // _pd.Timedelta(microseconds=1)).tolist()
    for t, et in zip(ts_us, pdf["event_type"].tolist()):
        if et == "error":
            if run_len == 0:
                start_us = t
            run_len += 1
            end_us = t
        else:
            if run_len >= 3:
                out.append((key[0], start_us, end_us, run_len))
            run_len = 0
    state.update((run_len, start_us, end_us))
    yield pd.DataFrame(
        out, columns=["user_id", "start_us", "end_us", "n_errors"]
    )


def _stream_error_burst(ev: DataFrame) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    return ev.groupBy("user_id").applyInPandasWithState(
        _burst_state_fn,
        outputStructType=_BURST_SCHEMA,
        stateStructType=_BURST_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful PATTERN detection (the MATCH_RECOGNIZE gap in
    streaming SQL): closed >= 3-consecutive-error runs per user via
    applyInPandasWithState. Emission happens exactly when a non-error
    closes a qualifying run, so the result is deterministic and batch-
    expressible -> full oracle (win_error_burst restricted to runs
    followed by a later non-error event)."""
    return drain(_stream_error_burst(_events_stream(spark, sf_dir)), mode="update")[0]


def stream_error_burst_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_error_burst over 4 chronological micro-batches: a run
    whose errors span a batch boundary must be stitched from state —
    the pattern the single-batch form never exercises. Same closed-run
    oracle."""
    return drain(
        _stream_error_burst(_events_stream_multi(spark, sf_dir)),
        mode="update",
        min_batches=2,
    )[0]


_ERROR_BURST_STREAM_SQL = f"""
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
         {epoch_us_sql('ts')} AS ts_us,
         SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS grp
  FROM events),
last_nonerr AS (
  SELECT user_id, MAX(grp) AS max_grp FROM s GROUP BY user_id),
runs AS (
  SELECT s.user_id, s.grp,
         MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
         CAST(COUNT(*) AS BIGINT) AS n_errors
  FROM s WHERE event_type = 'error'
  GROUP BY s.user_id, s.grp)
SELECT r.user_id, r.start_us, r.end_us, r.n_errors
FROM runs r JOIN last_nonerr l ON l.user_id = r.user_id
WHERE r.n_errors >= 3 AND r.grp < l.max_grp
"""


def _count_state_fn(key, pdf_iter, state):
    """applyInPandasWithState update: running per-user event count."""
    total = state.get[0] if state.exists else 0
    for pdf in pdf_iter:
        total += len(pdf)
    state.update((total,))
    import pandas as pd

    yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})


def stream_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-state streaming operator: per-user running counts via
    applyInPandasWithState (state lives in the state store, keyed and
    partitioned - the custom-operator escape hatch). Under availableNow
    on one source pass the final update equals the batch count, so it
    carries a full oracle."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = _events_stream(spark, sf_dir)
    counted = ev.groupBy("user_id").applyInPandasWithState(
        _count_state_fn,
        outputStructType=_STATE_SCHEMA,
        stateStructType=_STATE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return drain(counted, mode="update")[0]


_STATEFUL_SQL = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id
"""


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins the
    customer dim in-flight (the dim is re-read per micro-batch, so a
    slowly-changing dimension stays fresh), then aggregates revenue-
    weighted activity per market segment. Deterministic -> full oracle."""
    from ..sources.tables import load_table

    ev = _events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = ev.join(F.broadcast(cust), "user_id")
    agg = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        dsum("value").alias("sum_value"),
    )
    return drain(agg, mode="complete")[0]


_STREAM_STATIC_SQL = f"""
SELECT c_mktsegment, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {dsum_sql('value')} AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


def _fold_versions(
    stream: DataFrame,
    sink: str,
    step: Callable[[DataFrame, DataFrame | None], DataFrame],
) -> DataFrame:
    """foreachBatch fold of ``stream`` into versioned parquet state:
    batch ``b`` writes ``step(batch, prev)`` to ``sink/v<b>``, where
    ``prev`` reads the previous version (None for the first batch), and
    the last version is returned. One write job per batch; the dir being
    read is never overwritten, and a retried batch id overwrites its
    own version dir, so the sink stays exactly-once."""
    last: list[str] = []

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        prev = batch_df.sparkSession.read.parquet(last[-1]) if last else None
        out = os.path.join(sink, f"v{batch_id}")
        step(batch_df, prev).write.mode("overwrite").parquet(out)
        last.append(out)

    shutil.rmtree(sink, ignore_errors=True)
    drain(stream, lambda w: w.foreachBatch(commit))
    return stream.sparkSession.read.parquet(last[-1])


def _run_foreachbatch_merge(
    spark: SparkSession, ev: DataFrame, sink: str
) -> DataFrame:
    """foreachBatch upsert into a parquet profile sink (the reference's
    SQL-DW bulk-upsert shape): each micro-batch's per-user aggregates
    are merged with the existing sink state (read-union-reaggregate,
    the storage-agnostic merge; a Delta/Iceberg MERGE INTO replaces
    this on a real lakehouse). The running sum is carried as
    DECIMAL(30,6) across batches — decimal addition is exact and
    associative, so the merged total is bit-identical to the oracle's
    one-shot decimal sum no matter how many micro-batches the source
    splits into; it is cast to double only on the final read."""

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        agg = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("decimal(30,6)")
            .alias("sum_dec"),
        )
        if prev is None:
            return agg
        return (
            prev.unionByName(agg)
            .groupBy("user_id")
            .agg(
                F.sum("n_events").cast("long").alias("n_events"),
                F.sum("sum_dec").cast("decimal(30,6)").alias("sum_dec"),
            )
        )

    return _fold_versions(ev, sink, merge).select(
        "user_id", "n_events", F.col("sum_dec").cast("double").alias("sum_value")
    )


def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink = scratch_dir("stream_foreachbatch_sink", sf_dir)
    return _run_foreachbatch_merge(spark, _events_stream(spark, sf_dir), sink)


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: view->purchase attribution. Two
    independent streaming sources over the same events table join on
    user with the purchase inside [view_ts, view_ts + 30 min]; the
    watermarks plus the time-range predicate are what let Spark evict
    join state (without them, both sides would buffer forever). The
    matched-pair set is deterministic, so it carries a full oracle."""
    views = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    buys = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("buy_user"),
            F.col("event_id").alias("buy_id"),
            F.col("ts").alias("buy_ts"),
        )
        .withWatermark("buy_ts", "10 minutes")
    )
    joined = views.join(
        buys,
        F.expr(
            "user_id = buy_user AND "
            "buy_ts >= view_ts AND buy_ts <= view_ts + INTERVAL 30 MINUTES"
        ),
    )
    out = joined.select(
        "user_id",
        "view_id",
        "buy_id",
        F.unix_micros("view_ts").cast("long").alias("view_us"),
        F.unix_micros("buy_ts").cast("long").alias("buy_us"),
    )
    return drain(out, mode="append")[0]


_STREAM_STREAM_SQL = """
WITH v AS (
  SELECT user_id, event_id AS view_id, epoch_us(ts) AS view_us
  FROM events WHERE event_type = 'view'),
p AS (
  SELECT user_id, event_id AS buy_id, epoch_us(ts) AS buy_us
  FROM events WHERE event_type = 'purchase')
SELECT v.user_id, view_id, buy_id,
       CAST(view_us AS BIGINT) AS view_us,
       CAST(buy_us AS BIGINT) AS buy_us
FROM v JOIN p ON v.user_id = p.user_id
 AND buy_us >= view_us AND buy_us <= view_us + 1800000000
"""


# ---- multi-batch forms ----------------------------------------------
# The single-source registered queries above drain in ONE availableNow
# micro-batch (the events table is a single parquet file), so the state
# store never has to merge across batches in the graded path. These
# variants replay the same data as _MULTI_FILES chronological
# micro-batches (maxFilesPerTrigger=1) and carry the SAME oracle SQL:
# streaming over many batches must agree with one-shot batch execution.


def stream_tumbling_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_tumbling over 4 chronological micro-batches: windowed
    state accumulates batch-over-batch; complete mode emits the final
    merged aggregation."""
    ev = _events_stream_multi(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        dsum("value").alias("sum_value"),
    )
    out = agg.select(
        F.unix_micros(F.col("window.start")).cast("long").alias("win_start_us"),
        "event_type",
        "n_events",
        "sum_value",
    )
    return drain(out, mode="complete", min_batches=2)[0]


def stream_session_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_session_window over 4 chronological micro-batches: open
    sessions must survive in the state store until a later batch either
    extends or closes them."""
    ev = _events_stream_multi(spark, sf_dir)
    agg = ev.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    out = agg.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).cast("long").alias("sess_start_us"),
        F.unix_micros(F.col("session_window.end")).cast("long").alias("sess_end_us"),
        "n_events",
    )
    return drain(out, mode="complete", min_batches=2)[0]


def stream_stateful_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_stateful_count over 4 chronological micro-batches: the
    per-user GroupState carries the running count between batches, and
    the update-mode sink receives one row per (user, batch-seen). The
    final state is the max per user — counts only grow — which must
    equal the one-shot batch count."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = _events_stream_multi(spark, sf_dir)
    counted = ev.groupBy("user_id").applyInPandasWithState(
        _count_state_fn,
        outputStructType=_STATE_SCHEMA,
        stateStructType=_STATE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    updates = drain(counted, mode="update", min_batches=2)[0]
    return updates.groupBy("user_id").agg(
        F.max("n_events").cast("long").alias("n_events")
    )


def stream_stream_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_stream_join over 4 chronological micro-batches: a view in
    batch k must stay buffered in the join state store until the
    watermark passes view_ts + 30min, so purchases arriving in later
    batches still match - the cross-batch form of stream-stream state.
    Chronological file order means no out-of-order data, so the matched
    set equals the single-batch (and batch-SQL) result exactly."""
    src = _events_multifile_src(spark, sf_dir)

    def stream():
        raw = (
            spark.readStream.schema(_EVENTS_RAW_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return raw.withColumn("ts", raw_ts_to_timestamp("ts"))

    views = (
        stream()
        .where(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    buys = (
        stream()
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("buy_user"),
            F.col("event_id").alias("buy_id"),
            F.col("ts").alias("buy_ts"),
        )
        .withWatermark("buy_ts", "10 minutes")
    )
    joined = views.join(
        buys,
        F.expr(
            "user_id = buy_user AND "
            "buy_ts >= view_ts AND buy_ts <= view_ts + INTERVAL 30 MINUTES"
        ),
    )
    out = joined.select(
        "user_id",
        "view_id",
        "buy_id",
        F.unix_micros("view_ts").cast("long").alias("view_us"),
        F.unix_micros("buy_ts").cast("long").alias("buy_us"),
    )
    return drain(out, mode="append", min_batches=2)[0]


def stream_foreachbatch_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_foreachbatch_sink over 4 chronological micro-batches: the
    read-union-reaggregate upsert runs once per batch, so the decimal
    merge path is exercised for real; the final sink must equal the
    one-shot aggregate bit-for-bit."""
    sink = scratch_dir("stream_foreachbatch_multi", sf_dir)
    return _run_foreachbatch_merge(spark, _events_stream_multi(spark, sf_dir), sink)


_FOREACHBATCH_SQL = f"""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       {dsum_sql('value')} AS sum_value
FROM events GROUP BY user_id
"""


_TWS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("last_type", T.StringType()),
    ]
)


from pyspark.sql.streaming.stateful_processor import StatefulProcessor

# transformWithStateInPandas (Spark 4's arbitrary-stateful API) runs a
# protobuf-speaking state-server client inside the Python worker; the
# container lacks google-protobuf, which made these two ops dormant in
# rounds 4-5. Round 6 closes that with a from-scratch minimal protobuf
# runtime (vendor/pbshim — public wire-format spec only): the loader
# path-injects it on the driver and ships it to workers via addPyFile,
# so the ops self-activate with no environment change. If the real
# protobuf package is ever installed it takes precedence automatically.
from cortana_intelligence_customer360_spark.vendor import pbshim_loader as _pbshim

try:
    _pbshim.activate_driver()
    HAVE_PROTOBUF = True
except Exception:  # pragma: no cover - shim import failure
    HAVE_PROTOBUF = False


class _LatestEventProcessor(StatefulProcessor):
    """StatefulProcessor for transformWithStateInPandas (Spark 4's
    arbitrary-stateful API, the successor to applyInPandasWithState):
    per-user ValueState holding (n_events, last_ts_us, last_event_id,
    last_type); each batch folds its rows into the state and emits the
    updated row. "Latest" breaks ts ties by event_id, so the final
    state is identical under ANY micro-batch split of the input — that
    determinism is what lets a streaming state machine carry a full
    batch oracle."""

    def init(self, handle) -> None:
        self._state = handle.getValueState(
            "latest",
            "n_events LONG, last_ts_us LONG, last_event_id LONG, last_type STRING",
        )

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        # ValueState.get() returns None when unset, so the extra
        # exists() state-server round trip per key per batch is pure
        # protocol cost (guide §4: every state call is a synchronous
        # socket RPC from the Python worker) — one get() does both jobs.
        prev = self._state.get()
        n, ts, eid, typ = prev if prev is not None else (0, -1, -1, None)
        for pdf in rows:
            if not len(pdf):
                continue
            n += len(pdf)
            # argmax by (ts_us, event_id) over plain lists: the old
            # sort_values-then-last paid a full pandas sort (~0.25 ms)
            # per key per batch for a single max; event_id is unique,
            # so max-of-tuples picks the identical row (guide §4.2:
            # tiny per-key groups make pandas machinery the overhead).
            tl = pdf["ts_us"].tolist()
            el = pdf["event_id"].tolist()
            j = max(range(len(tl)), key=lambda k: (tl[k], el[k]))
            cand = (int(tl[j]), int(el[j]))
            if cand > (ts, eid):
                ts, eid = cand
                typ = str(pdf["event_type"].iloc[j])
        self._state.update((n, ts, eid, typ))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "last_ts_us": [ts],
                "last_type": [typ],
            }
        )

    def close(self) -> None:
        pass


def stream_transform_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator on the transformWithState API: per-user
    running count + latest event (ts-then-event_id argmax) kept in a
    typed ValueState. Under one availableNow pass the emitted update
    equals the batch argmax/count, so it carries a full oracle; the
    cross-batch state-merge path is exercised by
    stream_transform_state_multi against the SAME oracle.

    transformWithState requires a multi-column-family state store, so
    the RocksDB provider (the 100 TB choice anyway) is pinned for the
    query and restored after."""
    _pbshim.ship_to_workers(spark)
    proc = _LatestEventProcessor()
    with session_conf(spark, _ROCKSDB_CONF):
        ev = _events_stream(spark, sf_dir).select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            F.col("event_id").cast("long").alias("event_id"),
            "event_type",
        )
        out = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=proc,
            outputStructType=_TWS_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
        return drain(out, mode="update")[0]


def stream_transform_state_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_transform_state over _MULTI_FILES chronological
    micro-batches: the ValueState must fold across batches; the memory
    sink keeps every per-batch update, so the LAST update per user
    (max n_events — the count is monotone) must equal the batch
    oracle. RocksDB provider pinned as in stream_transform_state."""
    _pbshim.ship_to_workers(spark)
    proc = _LatestEventProcessor()
    with session_conf(spark, _ROCKSDB_CONF):
        ev = _events_stream_multi(spark, sf_dir).select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            F.col("event_id").cast("long").alias("event_id"),
            "event_type",
        )
        out = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=proc,
            outputStructType=_TWS_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
        updates = drain(out, mode="update", min_batches=2)[0]
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


_TWS_SQL = """
WITH t AS (
  -- CAST through TIMESTAMP truncates parquet-ns ts to Spark's µs so
  -- the argmax ordering matches what the processor compares.
  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS tsu
  FROM events),
g AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(epoch_us(MAX(tsu)) AS BIGINT) AS last_ts_us
      FROM t GROUP BY 1),
l AS (SELECT user_id, event_type AS last_type
      FROM (SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY tsu DESC, event_id DESC) AS rn
            FROM t) WHERE rn = 1)
SELECT user_id, n_events, last_ts_us, last_type FROM g JOIN l USING (user_id)
"""


# -- streaming last-touch attribution ---------------------------------------

_ATTR_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("channel", T.StringType()),
    ]
)
# last non-purchase event_type seen for this user ('' = none yet)
_ATTR_STATE_SCHEMA = T.StructType([T.StructField("last_touch", T.StringType())])


def _attr_state_fn(key, pdf_iter, state):
    """Streaming last-touch attribution: every purchase is credited to
    the user's most recent earlier non-purchase event_type (from the
    state store when the touch happened in an earlier micro-batch),
    'direct' when the user has never touched. Deterministic and batch-
    expressible -> full oracle (the batch window-frame form)."""
    import pandas as pd

    last = state.get[0] if state.exists else ""
    pdf = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
    ts_us = ((pdf["ts"] - pd.Timestamp(0)) // pd.Timedelta(microseconds=1)).tolist()
    out = []
    for t, eid, et in zip(ts_us, pdf["event_id"].tolist(), pdf["event_type"].tolist()):
        if et == "purchase":
            out.append((key[0], int(eid), int(t), last or "direct"))
        else:
            last = et
    state.update((last,))
    yield pd.DataFrame(out, columns=["user_id", "event_id", "ts_us", "channel"])


def _stream_attribution(ev: DataFrame) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    return ev.groupBy("user_id").applyInPandasWithState(
        _attr_state_fn,
        outputStructType=_ATTR_SCHEMA,
        stateStructType=_ATTR_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming form of features.attribution.feat_attribution_touch's
    per-purchase credit assignment: the last-touch channel is resolved
    AS EVENTS ARRIVE from per-user state instead of a window over the
    at-rest table. State is one string per user — O(|users|) store."""
    return drain(_stream_attribution(_events_stream(spark, sf_dir)), mode="update")[0]


def stream_attribution_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_attribution over 4 chronological micro-batches: a
    purchase whose most recent touch happened in an EARLIER batch must
    pull the channel from the state store — the cross-batch handoff the
    single-batch form never exercises. Same batch oracle."""
    return drain(
        _stream_attribution(_events_stream_multi(spark, sf_dir)),
        mode="update",
        min_batches=2,
    )[0]


_ATTR_STREAM_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, {epoch_us_sql('ts')} AS ts_us
  FROM events),
touched AS (
  SELECT user_id, event_id, event_type, ts_us,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
  FROM e)
SELECT user_id, event_id, ts_us, COALESCE(last_touch, 'direct') AS channel
FROM touched WHERE event_type = 'purchase'
"""


# -- streaming CDC apply into the manifest table ----------------------------

_CDC_FILES = 4
_CDC_LOG_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("key", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("new_bal", T.DoubleType()),
    ]
)


def _cdc_multifile_src(spark: SparkSession, sf_dir: str) -> str:
    """The batch CDC log (operators.merge._cdc_log) replayed as
    _CDC_FILES seq-range files: later micro-batches always hold higher
    seqs, which is what makes per-batch last-writer-wins compose into
    the global last-writer-wins the oracle computes."""
    from ..operators.merge import _cdc_log

    return _replay_src(spark, sf_dir, "cdc_multifile", _cdc_log, "seq", _CDC_FILES)


def _run_stream_cdc(spark: SparkSession, sf_dir: str, qid: str, multi: bool) -> DataFrame:
    """foreachBatch CDC upsert into a ManifestTable: every micro-batch
    reads the current snapshot, applies its last-writer-wins winners
    (tombstoning deletes so a later-seq update can revive a base row
    with its original attributes), and commits the new state as an
    overwrite version — each micro-batch becomes a snapshot-isolated
    table version, so the CDC history is time-travelable for free.
    Final read must equal the one-shot batch apply (cdc_apply_log's
    oracle): streaming order composes because batch seq ranges ascend."""
    from ..sources.lakehouse import ManifestTable

    src = _cdc_multifile_src(spark, sf_dir)
    root = scratch_dir(qid, sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    table = ManifestTable(root)
    base = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("mktsegment"),
            F.col("c_acctbal").alias("acctbal"),
            F.lit(True).alias("from_base"),
            F.lit(False).alias("touched"),
            F.lit(False).alias("deleted"),
        )
    )
    table.commit(base, "key")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        w = Window.partitionBy("key").orderBy(F.col("seq").desc())
        latest = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("key", "op", "new_bal")
        )
        cur = table.read(sp)
        j = cur.join(latest, "key", "full")
        is_del = F.col("op") == "D"
        merged = j.select(
            "key",
            F.col("name"),
            F.col("mktsegment"),
            F.when(F.col("op").isNull() | is_del, F.col("acctbal"))
            .otherwise(F.col("new_bal"))
            .alias("acctbal"),
            F.coalesce("from_base", F.lit(False)).alias("from_base"),
            (F.coalesce("touched", F.lit(False)) | F.col("op").isNotNull()).alias(
                "touched"
            ),
            F.when(F.col("op").isNull(), F.coalesce("deleted", F.lit(False)))
            .otherwise(is_del)
            .alias("deleted"),
        )
        table.commit(merged, "key", mode="overwrite")

    reader = spark.readStream.schema(_CDC_LOG_SCHEMA)
    if multi:
        reader = reader.option("maxFilesPerTrigger", 1)
    stream = reader.parquet(src)
    drain(stream, lambda w: w.foreachBatch(apply_batch))
    if multi and table.latest_version() < _CDC_FILES:
        raise AssertionError(
            f"expected {_CDC_FILES} CDC micro-batches, got {table.latest_version()}"
        )
    final = table.read(spark)
    return final.where(~F.col("deleted")).select(
        "key",
        F.coalesce(F.col("name"), F.concat(F.lit("cdc#"), F.col("key"))).alias("name"),
        F.coalesce(F.col("mktsegment"), F.lit("CDC")).alias("mktsegment"),
        F.round(F.col("acctbal"), 6).alias("acctbal"),
        F.when(~F.col("touched"), F.lit("kept"))
        .when(F.col("from_base"), F.lit("updated"))
        .otherwise(F.lit("inserted"))
        .alias("change"),
    )


def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply (single availableNow batch) — the Debezium
    consumer shape: change log in, versioned upserted table out."""
    return _run_stream_cdc(spark, sf_dir, "stream_cdc_apply", multi=False)


def stream_cdc_apply_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply over 4 ascending-seq micro-batches: a key
    deleted in one batch and updated in a later one must revive from
    the tombstone with its base attributes — the cross-batch semantics
    the single-batch form never exercises. Same oracle as the batch
    cdc_apply_log-style apply."""
    return _run_stream_cdc(spark, sf_dir, "stream_cdc_apply_multi", multi=True)


def stream_sliding_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_sliding over 4 chronological micro-batches: overlapping
    sliding-window state must accumulate batch-over-batch (a window
    spanning a batch boundary merges counts from both); complete mode
    emits the final agreement with the batch oracle."""
    ev = _events_stream_multi(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour", "15 minutes")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    out = agg.select(
        F.unix_micros(F.col("window.start")).cast("long").alias("win_start_us"),
        F.unix_micros(F.col("window.end")).cast("long").alias("win_end_us"),
        "n_events",
    )
    return drain(out, mode="complete", min_batches=2)[0]


def stream_dedup_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_dedup over 4 chronological micro-batches: every event
    arrives twice within its batch while the dedup state store ticks
    across batches (watermark-evicted keys must never re-emit in later
    batches — the multi form proves eviction doesn't double-count)."""
    a = _events_stream_multi(spark, sf_dir)
    b = _events_stream_multi(spark, sf_dir)
    doubled = a.unionByName(b).withWatermark("ts", "10 minutes")
    deduped = doubled.dropDuplicatesWithinWatermark(["event_id"]).select("event_id")
    return drain(deduped, mode="append", min_batches=2)[0]


_STREAM_CDC_SQL_SUFFIX = """
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


def _stream_cdc_sql() -> str:
    from ..operators.merge import _CDC_INS_OFFSET

    return f"""
WITH log AS (
  SELECT o_orderkey AS seq,
         CAST(CASE WHEN o_orderkey % 13 = 0
                   THEN o_custkey + {_CDC_INS_OFFSET} ELSE o_custkey END
              AS BIGINT) AS key,
         CASE WHEN o_orderkey % 97 = 0 THEN 'D'
              WHEN o_orderkey % 13 = 0 THEN 'I' ELSE 'U' END AS op,
         round(o_totalprice / 100.0, 6) AS new_bal
  FROM orders),
{_STREAM_CDC_SQL_SUFFIX}"""



def stream_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-count via MERGEABLE HLL sketches: each
    micro-batch folds its events into a (event_type, bucket) register
    table and foreachBatch max-merges it into the persistent sketch
    state — the canonical "incremental distinct users at 100 TB"
    pattern (state is O(types x 256) REGARDLESS of cardinality, vs
    the unbounded key set dropDuplicates-style exact counting needs).

    Because register max-merge is associative/commutative/idempotent,
    the merged sketch is BIT-IDENTICAL to the one-shot batch sketch no
    matter how the maxFilesPerTrigger=1 replay slices the source — so
    this streaming op carries agg_hll_custom's FULL oracle."""
    from ..operators.sketches import hll_output, registers_from

    sink = scratch_dir("stream_hll_merge", sf_dir)

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        regs = registers_from(batch_df.select("event_type", "user_id"))
        if prev is None:
            return regs
        return (
            prev.unionByName(regs)
            .groupBy("event_type", "bucket")
            .agg(F.max("reg").cast("int").alias("reg"))
        )

    return hll_output(_fold_versions(_events_stream(spark, sf_dir), sink, merge))


def stream_bloom_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mergeable BLOOM membership sketch: each chronological
    micro-batch (maxFilesPerTrigger=1 replay) hashes its users into
    (event_type, bit-position) rows and foreachBatch OR-merges them
    into the persistent filter state (union-distinct of set bits) —
    state is O(types x m bits) regardless of stream length, the
    membership sibling of stream_hll_merge / stream_quantile_merge
    completing the streaming mergeable-sketch family.

    Bit OR is associative/commutative/idempotent, so the merged filter
    is BIT-IDENTICAL to the one-shot batch filter however the replay
    slices the source — a FULL direct-build oracle applies. Readback
    reports bits set, fill ratio, and the standard occupancy
    cardinality estimate n ≈ -(m/k)·ln(1 - X/m), formula-mirrored and
    rounded 6 dp in both engines."""
    from ..operators.sketches import _BF_K, _BF_M, _bf_pos

    sink = scratch_dir("stream_bloom_merge", sf_dir)

    def bits_of(df: DataFrame) -> DataFrame:
        pos_arr = F.array(*[_bf_pos(i, "user_id") for i in range(_BF_K)])
        return (
            df.select("event_type", F.explode(pos_arr).alias("pos"))
            .distinct()
        )

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        bits = bits_of(batch_df.select("event_type", "user_id"))
        return bits if prev is None else prev.unionByName(bits).distinct()

    bits = _fold_versions(_events_stream_multi(spark, sf_dir), sink, merge)
    bits = bits.unionByName(
        bits.select(F.lit("__all__").alias("event_type"), "pos").distinct()
    )
    x = F.count(F.lit(1)).cast("double")
    m = float(_BF_M)
    est = F.round(
        F.lit(-m / _BF_K) * F.log(F.lit(1.0) - x / F.lit(m)), 6
    )
    return bits.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_bits_set"),
        F.round(x / F.lit(m), 6).alias("fill_ratio"),
        est.alias("est_distinct"),
    )


def _stream_bloom_sql() -> str:
    from ..operators.sketches import _BF_K, _BF_M

    ivals = ", ".join(f"({i})" for i in range(_BF_K))
    pos = (
        "('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || "
        f"CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % {_BF_M}"
    )
    return f"""
WITH i(i) AS (VALUES {ivals}),
bits0 AS (
  SELECT DISTINCT event_type, {pos} AS pos
  FROM events CROSS JOIN i),
bits AS (
  SELECT event_type, pos FROM bits0
  UNION
  SELECT '__all__', pos FROM bits0)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_bits_set,
       round(COUNT(*) / {float(_BF_M)}, 6) AS fill_ratio,
       round({-float(_BF_M) / _BF_K}
             * ln(1.0 - COUNT(*) / {float(_BF_M)}), 6) AS est_distinct
FROM bits GROUP BY event_type
"""


def stream_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mergeable COUNT-MIN sketch with an IDEMPOTENT batch
    sink: cellwise ADDITION (unlike HLL max / Bloom OR / bottom-k min)
    is NOT idempotent, so a replayed micro-batch would double-count —
    the real-world fix demonstrated here is the batch-id-keyed
    transactional sink: each batch OVERWRITES sink/batch=<id>, so
    reprocessing a batch replaces rather than re-adds its partial, and
    the merged sketch is the sum over distinct batch dirs. Addition
    over a disjoint batch partition of the stream equals the one-shot
    batch sketch exactly, so this op carries agg_count_min's FULL
    oracle (estimates + visible overcount). State is O(d x w) cells
    per batch — constant regardless of stream length."""
    from ..operators.sketches import _CMS_D, _CMS_W

    sink = scratch_dir("stream_cms_merge", sf_dir)

    def cells_of(df: DataFrame) -> DataFrame:
        rows = F.explode(
            F.array(*[F.lit(r) for r in range(_CMS_D)])
        ).alias("r")
        bucket = (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col("r"), F.col("event_type"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _CMS_W
        ).alias("bucket")
        return (
            df.select("event_type", rows)
            .select("r", bucket)
            .groupBy("r", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        cells_of(batch_df).write.mode("overwrite").parquet(
            os.path.join(sink, f"batch={batch_id}")
        )

    shutil.rmtree(sink, ignore_errors=True)
    drain(_events_stream_multi(spark, sf_dir), lambda w: w.foreachBatch(merge_batch))
    cells = (
        spark.read.option("basePath", sink)
        .parquet(sink + "/batch=*")
        .groupBy("r", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    ev = load_table(spark, sf_dir, "events")
    keys = ev.groupBy("event_type").agg(bcount().alias("exact_count"))
    probes = keys.select(
        "event_type",
        "exact_count",
        F.explode(F.array(*[F.lit(r) for r in range(_CMS_D)])).alias("r"),
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("r"), F.col("event_type"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _CMS_W,
    )
    est = (
        probes.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("event_type", "exact_count")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return est.select(
        "event_type",
        "exact_count",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_count")).alias("overcount"),
    )


def _stream_cms_sql() -> str:
    from ..operators.sketches import _cms_sql

    return _cms_sql()


def stream_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mergeable QUANTILE sketch: each chronological
    micro-batch (maxFilesPerTrigger=1 replay) folds its events into a
    per-type bottom-k (KMV) sample by md5(event_id) priority, and
    foreachBatch merges it into the persistent sample state by
    re-taking the k smallest of state ∪ batch — O(types x k) state
    regardless of stream length, the quantile sibling of
    stream_hll_merge's register max-merge.

    min-k merge is associative/commutative/idempotent, so the final
    sample is BIT-IDENTICAL to the one-shot batch bottom-k no matter
    how the replay slices the source — the streaming op carries a FULL
    direct-sample oracle (same lattice as agg_quantile_sketch, on the
    events stream)."""
    from ..operators.sketches import _QSK_K, _QSK_QS

    sink = scratch_dir("stream_quantile_merge", sf_dir)

    def bottomk(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy("rk")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= _QSK_K)
            .drop("rn")
        )

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        sample = bottomk(
            batch_df.select(
                "event_type",
                F.col("value").cast("double").alias("val"),
                F.md5(F.col("event_id").cast("string")).alias("rk"),
            )
        )
        return sample if prev is None else bottomk(prev.unionByName(sample))

    sample = _fold_versions(_events_stream_multi(spark, sf_dir), sink, merge)
    wv = Window.partitionBy("event_type").orderBy("val", "rk")
    wn = Window.partitionBy("event_type")
    pos = sample.withColumn("vn", F.row_number().over(wv)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    qcols = [
        F.max(
            F.when(
                F.col("vn")
                == F.greatest(
                    F.lit(1), F.ceil(F.lit(q) * F.col("n")).cast("long")
                ),
                F.col("val"),
            )
        ).alias(f"q{int(q * 100)}")
        for q in _QSK_QS
    ]
    return pos.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_sample"), *qcols
    )


def _stream_quantile_sql() -> str:
    from ..operators.sketches import _QSK_K, _QSK_QS

    qcols = ",\n       ".join(
        f"MAX(CASE WHEN vn = GREATEST(1, CAST(ceil({q} * n) AS BIGINT)) "
        f"THEN val END) AS q{int(q * 100)}"
        for q in _QSK_QS
    )
    return f"""
WITH base AS (
  SELECT event_type, CAST(value AS DOUBLE) AS val,
         md5(CAST(event_id AS VARCHAR)) AS rk
  FROM events),
keep AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY rk) AS rn
    FROM base)
  WHERE rn <= {_QSK_K}),
pos AS (
  SELECT event_type, val,
         row_number() OVER (PARTITION BY event_type ORDER BY val, rk) AS vn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM keep)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_sample,
       {qcols}
FROM pos GROUP BY event_type
"""


QUERIES = {
    "stream_hll_merge": stream_hll_merge,
    "stream_bloom_merge": stream_bloom_merge,
    "stream_cms_merge": stream_cms_merge,
    "stream_quantile_merge": stream_quantile_merge,
    "stream_error_burst": stream_error_burst,
    "stream_error_burst_multi": stream_error_burst_multi,
    "stream_attribution": stream_attribution,
    "stream_attribution_multi": stream_attribution_multi,
    "stream_cdc_apply": stream_cdc_apply,
    "stream_cdc_apply_multi": stream_cdc_apply_multi,
    "stream_sliding_multi": stream_sliding_multi,
    "stream_dedup_multi": stream_dedup_multi,
    "stream_tumbling": stream_tumbling,
    "stream_sliding": stream_sliding,
    "stream_session_window": stream_session_window,
    "stream_watermark_late": stream_watermark_late,
    "stream_dedup": stream_dedup,
    "stream_stateful_count": stream_stateful_count,
    "stream_static_join": stream_static_join,
    "stream_stream_join": stream_stream_join,
    "stream_foreachbatch_sink": stream_foreachbatch_sink,
    "stream_tumbling_multi": stream_tumbling_multi,
    "stream_session_multi": stream_session_multi,
    "stream_stateful_multi": stream_stateful_multi,
    "stream_stream_multi": stream_stream_multi,
    "stream_foreachbatch_multi": stream_foreachbatch_multi,
}
if HAVE_PROTOBUF:  # pragma: no cover - container lacks protobuf
    QUERIES["stream_transform_state"] = stream_transform_state
    QUERIES["stream_transform_state_multi"] = stream_transform_state_multi

ORACLE = {
    "stream_hll_merge": _hll_sql(),
    "stream_bloom_merge": _stream_bloom_sql(),
    "stream_cms_merge": _stream_cms_sql(),
    "stream_quantile_merge": _stream_quantile_sql(),
    "stream_error_burst": _ERROR_BURST_STREAM_SQL,
    "stream_error_burst_multi": _ERROR_BURST_STREAM_SQL,
    "stream_attribution": _ATTR_STREAM_SQL,
    "stream_attribution_multi": _ATTR_STREAM_SQL,
    "stream_cdc_apply": _stream_cdc_sql(),
    "stream_cdc_apply_multi": _stream_cdc_sql(),
    "stream_sliding_multi": _SLIDING_SQL,
    "stream_dedup_multi": _DEDUP_SQL,
    "stream_tumbling": _TUMBLING_SQL,
    "stream_sliding": _SLIDING_SQL,
    "stream_session_window": _SESSION_SQL,
    # stream_watermark_late: S-tier (batch-boundary dependent).
    "stream_dedup": _DEDUP_SQL,
    "stream_stateful_count": _STATEFUL_SQL,
    "stream_static_join": _STREAM_STATIC_SQL,
    "stream_stream_join": _STREAM_STREAM_SQL,
    "stream_foreachbatch_sink": _FOREACHBATCH_SQL,
    # Multi-batch forms: same oracles — N micro-batches must equal batch.
    "stream_tumbling_multi": _TUMBLING_SQL,
    "stream_session_multi": _SESSION_SQL,
    "stream_stateful_multi": _STATEFUL_SQL,
    "stream_stream_multi": _STREAM_STREAM_SQL,
    "stream_foreachbatch_multi": _FOREACHBATCH_SQL,
}
if HAVE_PROTOBUF:  # pragma: no cover
    ORACLE["stream_transform_state"] = _TWS_SQL
    ORACLE["stream_transform_state_multi"] = _TWS_SQL


# ---------------------------------------------------------------------------
# Streaming SCD2 (round 4): foreachBatch maintains a TYPE-2 HISTORY
# table under the CDC stream — every change event closes the key's
# open version and appends a new one, so the history is append-only
# and batch-boundary-INDEPENDENT (one version per event, not per
# batch winner), which is what makes a batch oracle possible at all.


def stream_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Type-2 dimension maintenance over the 4-micro-batch
    CDC replay: per batch, each event (ordered by seq) becomes a
    version row [valid_from_seq, valid_to_seq); the key's previously
    OPEN row (possibly committed batches ago) is closed at the batch's
    first seq for that key. Deletes append a tombstone version (open,
    deleted=true) so later updates close it — full lineage, nothing
    lost. Each micro-batch commits a snapshot-isolated ManifestTable
    version (time-travelable history of the history). Final read
    assigns version numbers with one window and must equal the batch
    oracle replaying the whole log — regardless of how the range
    partitioner drew the file/batch boundaries."""
    from ..sources.lakehouse import ManifestTable

    src = _cdc_multifile_src(spark, sf_dir)
    root = scratch_dir("stream_scd2_apply", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    table = ManifestTable(root)
    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.round("c_acctbal", 6).alias("bal"),
        F.lit(0).cast("long").alias("valid_from_seq"),
        F.lit(None).cast("long").alias("valid_to_seq"),
        F.lit(False).alias("deleted"),
    )
    table.commit(base, "key")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        w = Window.partitionBy("key").orderBy("seq")
        ev = batch_df.select(
            "key",
            "seq",
            (F.col("op") == "D").alias("is_del"),
            F.round("new_bal", 6).alias("bal"),
        )
        new_rows = ev.select(
            "key",
            F.when(F.col("is_del"), F.lit(None).cast("double"))
            .otherwise(F.col("bal"))
            .alias("bal"),
            F.col("seq").alias("valid_from_seq"),
            F.lead("seq").over(w).alias("valid_to_seq"),
            F.col("is_del").alias("deleted"),
        )
        first_seq = ev.groupBy("key").agg(F.min("seq").alias("fseq"))
        cur = table.read(sp)
        closed = (
            cur.join(F.broadcast(first_seq), "key", "left")
            .select(
                "key",
                "bal",
                "valid_from_seq",
                F.when(
                    F.col("valid_to_seq").isNull() & F.col("fseq").isNotNull(),
                    F.col("fseq"),
                )
                .otherwise(F.col("valid_to_seq"))
                .alias("valid_to_seq"),
                "deleted",
            )
        )
        table.commit(closed.unionByName(new_rows), "key", mode="overwrite")

    reader = spark.readStream.schema(_CDC_LOG_SCHEMA).option("maxFilesPerTrigger", 1)
    stream = reader.parquet(src)
    drain(stream, lambda w: w.foreachBatch(apply_batch))
    if table.latest_version() < _CDC_FILES:
        raise AssertionError(
            f"expected {_CDC_FILES} micro-batches, got {table.latest_version()}"
        )
    hist = table.read(spark)
    wv = Window.partitionBy("key").orderBy("valid_from_seq")
    return hist.select(
        "key",
        "bal",
        "valid_from_seq",
        "valid_to_seq",
        "deleted",
        F.row_number().over(wv).cast("long").alias("version_no"),
        F.col("valid_to_seq").isNull().alias("is_current"),
    )


_STREAM_SCD2_SQL = """
WITH log AS (
  SELECT o_orderkey AS seq,
         CAST(CASE WHEN o_orderkey % 13 = 0 THEN o_custkey + 1000000000000
                   ELSE o_custkey END AS BIGINT) AS key,
         CASE WHEN o_orderkey % 97 = 0 THEN 'D'
              WHEN o_orderkey % 13 = 0 THEN 'I'
              ELSE 'U' END AS op,
         round(o_totalprice / 100.0, 6) AS new_bal
  FROM orders),
versions AS (
  SELECT c_custkey AS key, round(c_acctbal, 6) AS bal,
         CAST(0 AS BIGINT) AS valid_from_seq, FALSE AS deleted
  FROM customer
  UNION ALL
  SELECT key,
         CASE WHEN op = 'D' THEN NULL ELSE new_bal END AS bal,
         seq, op = 'D'
  FROM log),
closed AS (
  SELECT key, bal, valid_from_seq,
         lead(valid_from_seq) OVER (
           PARTITION BY key ORDER BY valid_from_seq) AS valid_to_seq,
         deleted,
         CAST(row_number() OVER (
           PARTITION BY key ORDER BY valid_from_seq) AS BIGINT) AS version_no
  FROM versions)
SELECT key, bal, valid_from_seq, valid_to_seq, deleted, version_no,
       valid_to_seq IS NULL AS is_current
FROM closed
"""

QUERIES["stream_scd2_apply"] = stream_scd2_apply
ORACLE["stream_scd2_apply"] = _STREAM_SCD2_SQL


# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER join (round 5): the one streaming join shape
# the engine was missing. Unmatched views must emit WITH NULL purchase
# columns — but only once the watermark proves no matching purchase can
# still arrive, which is exactly the state-eviction contract. To make
# the drained result deterministic (and equal to the batch left join),
# the source carries a far-future SENTINEL row on each side: it pushes
# the final watermark past every real view's join window, so every
# unmatched view's null row is flushed before availableNow terminates
# (Spark's no-data micro-batch performs the final eviction). The
# sentinel rows use user_id = -1 (matches nothing) and are filtered
# from the sink read; the oracle is the plain batch LEFT JOIN.


def _outer_sentinel(df: DataFrame, out: str) -> None:
    """One view + one purchase (user_id = -1, ts = max(ts) + 2h) whose
    only job is to advance both sides' watermarks past all real join
    windows; its min(ts) sorts it last in the replay."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    max_us = df.agg(F.max("ts")).collect()[0][0]
    sentinel = pa.table(
        {
            "event_id": pa.array([-1, -2], pa.int64()),
            "ts": pa.array([max_us + 7_200_000_000] * 2, pa.int64()),
            "user_id": pa.array([-1, -1], pa.int64()),
            "event_type": pa.array(["view", "purchase"]),
            "value": pa.array([0.0, 0.0], pa.float64()),
            "props": pa.array(["", ""]),
        }
    )
    pq.write_table(sentinel, os.path.join(out, "part-zz-sentinel.parquet"))


def _run_stream_stream_outer(
    spark: SparkSession,
    sf_dir: str,
    one_file_per_batch: bool,
    min_batches: int,
    join_type: str = "left_outer",
) -> DataFrame:
    src = _replay_src(
        spark, sf_dir, "events_outer_src", _events_us, "ts", sentinel=_outer_sentinel
    )

    def stream() -> DataFrame:
        r = spark.readStream.schema(_EVENTS_RAW_SCHEMA)
        if one_file_per_batch:
            r = r.option("maxFilesPerTrigger", 1)
        return r.parquet(src).withColumn("ts", raw_ts_to_timestamp("ts"))

    views = (
        stream()
        .where(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    buys = (
        stream()
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("buy_user"),
            F.col("event_id").alias("buy_id"),
            F.col("ts").alias("buy_ts"),
        )
        .withWatermark("buy_ts", "10 minutes")
    )
    joined = views.join(
        buys,
        F.expr(
            "user_id = buy_user AND "
            "buy_ts >= view_ts AND buy_ts <= view_ts + INTERVAL 30 MINUTES"
        ),
        join_type,
    )
    # coalesce covers the full-outer shape, where an unmatched purchase
    # row carries a NULL view-side user_id; for left_outer it is a
    # no-op (the view side is never null there).
    out = joined.select(
        F.coalesce("user_id", "buy_user").alias("user_id"),
        "view_id",
        "buy_id",
        F.unix_micros("view_ts").cast("long").alias("view_us"),
        F.unix_micros("buy_ts").cast("long").alias("buy_us"),
    )
    sink = drain(out, mode="append", min_batches=min_batches)[0]
    # Drop the sentinel's own (unmatched, null-padded) rows.
    return sink.where(F.col("user_id") >= 0)


def stream_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join, single-batch drain: all
    real data arrives in one micro-batch, the sentinel advances the
    watermark, and the closing no-data batch emits every unmatched
    view with null purchase columns. Equals the batch left join."""
    return _run_stream_stream_outer(spark, sf_dir, one_file_per_batch=False, min_batches=1)


def stream_stream_outer_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_stream_outer over chronological micro-batches: a view in
    batch k stays buffered until the watermark passes view_ts + 30min;
    matched rows emit as purchases arrive in later batches, unmatched
    rows emit null-padded only at expiry — cross-batch outer-join
    state, still exactly equal to the batch left join."""
    return _run_stream_stream_outer(spark, sf_dir, one_file_per_batch=True, min_batches=2)


_STREAM_STREAM_OUTER_SQL = """
WITH v AS (
  SELECT user_id, event_id AS view_id, epoch_us(ts) AS view_us
  FROM events WHERE event_type = 'view'),
p AS (
  SELECT user_id, event_id AS buy_id, epoch_us(ts) AS buy_us
  FROM events WHERE event_type = 'purchase')
SELECT v.user_id, view_id, buy_id,
       CAST(view_us AS BIGINT) AS view_us,
       CAST(buy_us AS BIGINT) AS buy_us
FROM v LEFT JOIN p ON v.user_id = p.user_id
 AND buy_us >= view_us AND buy_us <= view_us + 1800000000
"""

QUERIES["stream_stream_outer"] = stream_stream_outer
QUERIES["stream_stream_outer_multi"] = stream_stream_outer_multi
ORACLE["stream_stream_outer"] = _STREAM_STREAM_OUTER_SQL
ORACLE["stream_stream_outer_multi"] = _STREAM_STREAM_OUTER_SQL


# ---------------------------------------------------------------------------
# RocksDB state store (round 5): the provider a real 100 TB cluster
# runs stateful streaming on (bounded JVM heap, changelog+snapshot on
# DFS) instead of the default in-memory HDFS-backed provider. The
# provider is a STORAGE choice, not a semantic one — this query runs
# the cross-batch tumbling aggregation with RocksDB-backed state and
# must produce bit-identical results to stream_tumbling_multi (same
# oracle), proving the engine's stateful ops are provider-agnostic.

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_ROCKSDB_CONF = {"spark.sql.streaming.stateStore.providerClass": _ROCKSDB_PROVIDER}


def stream_stateful_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over 4 chronological micro-batches
    with the RocksDB state store provider. The provider class is
    pinned at query start, so it is set before the drain and restored
    after; results must equal stream_tumbling_multi exactly."""
    with session_conf(spark, _ROCKSDB_CONF):
        ev = _events_stream_multi(spark, sf_dir)
        agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        out = agg.select(
            F.unix_micros(F.col("window.start")).cast("long").alias("win_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
        return drain(out, mode="complete", min_batches=2)[0]


QUERIES["stream_stateful_rocksdb"] = stream_stateful_rocksdb
ORACLE["stream_stateful_rocksdb"] = _TUMBLING_SQL


# ---------------------------------------------------------------------------
# Dynamic-gap session windows (round 5): each event extends its session
# by a gap that depends on the EVENT ('purchase' keeps a session alive
# 45 min, everything else 15) — the per-event-type engagement model a
# fixed-gap sessionizer can't express. Spark's session_window accepts a
# gap COLUMN; sessions are the transitive merge of the per-event
# [ts, ts + gap) intervals, which the oracle replays as the classic
# running-max island split: a new session starts exactly when an
# event's ts >= max(prev end) so far (half-open intervals, verified in
# tests/test_streaming.py against batch session_window).

def _dyn_gap_col():
    # String durations (not typed INTERVAL literals): session_window
    # requires CalendarIntervalType and casts strings to it; a CASE of
    # INTERVAL '45' MINUTE literals would be DayTimeIntervalType and
    # be rejected.
    return F.when(F.col("event_type") == "purchase", "45 minutes").otherwise(
        "15 minutes"
    )


def _dyn_session_agg(ev: DataFrame) -> DataFrame:
    agg = ev.groupBy(
        F.session_window("ts", _dyn_gap_col()), "user_id"
    ).agg(bcount().alias("n_events"))
    return agg.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).cast("long").alias("sess_start_us"),
        F.unix_micros(F.col("session_window.end")).cast("long").alias("sess_end_us"),
        "n_events",
    )


def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-drain streaming sessionization with per-event gaps."""
    return drain(
        _dyn_session_agg(_events_stream(spark, sf_dir)), mode="complete"
    )[0]


def stream_session_dynamic_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap sessions over 4 chronological micro-batches: an open
    session's expiry horizon depends on which event types it already
    contains, and later batches must extend or close it accordingly."""
    return drain(
        _dyn_session_agg(_events_stream_multi(spark, sf_dir)),
        mode="complete",
        min_batches=2,
    )[0]


_DYN_SESSION_SQL = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS t_us,
         CASE WHEN event_type = 'purchase' THEN 2700000000
              ELSE 900000000 END AS gap_us
  FROM events),
marked AS (
  SELECT user_id, t_us, gap_us,
         CASE WHEN t_us >= MAX(t_us + gap_us) OVER (
                PARTITION BY user_id ORDER BY t_us
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              OR MAX(t_us + gap_us) OVER (
                PARTITION BY user_id ORDER BY t_us
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM ev),
sess AS (
  SELECT user_id, t_us, gap_us,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY t_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked)
SELECT user_id,
       CAST(MIN(t_us) AS BIGINT) AS sess_start_us,
       CAST(MAX(t_us + gap_us) AS BIGINT) AS sess_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess
GROUP BY user_id, sid
"""

QUERIES["stream_session_dynamic_gap"] = stream_session_dynamic_gap
QUERIES["stream_session_dynamic_multi"] = stream_session_dynamic_multi
ORACLE["stream_session_dynamic_gap"] = _DYN_SESSION_SQL
ORACLE["stream_session_dynamic_multi"] = _DYN_SESSION_SQL


def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join: BOTH sides' unmatched
    rows emit null-padded at watermark expiry — unmatched views with
    null purchase columns AND unmatched purchases with null view
    columns. Completes the streaming join-shape matrix (inner /
    left_outer / full_outer); equals the batch full join."""
    return _run_stream_stream_outer(
        spark, sf_dir, one_file_per_batch=False, min_batches=1,
        join_type="full_outer",
    )


def stream_stream_full_outer_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_stream_full_outer over chronological micro-batches —
    both sides' state buffered and expired across batch boundaries."""
    return _run_stream_stream_outer(
        spark, sf_dir, one_file_per_batch=True, min_batches=2,
        join_type="full_outer",
    )


_STREAM_STREAM_FULL_SQL = """
WITH v AS (
  SELECT user_id, event_id AS view_id, epoch_us(ts) AS view_us
  FROM events WHERE event_type = 'view'),
p AS (
  SELECT user_id, event_id AS buy_id, epoch_us(ts) AS buy_us
  FROM events WHERE event_type = 'purchase')
SELECT COALESCE(v.user_id, p.user_id) AS user_id, view_id, buy_id,
       CAST(view_us AS BIGINT) AS view_us,
       CAST(buy_us AS BIGINT) AS buy_us
FROM v FULL JOIN p ON v.user_id = p.user_id
 AND buy_us >= view_us AND buy_us <= view_us + 1800000000
"""

QUERIES["stream_stream_full_outer"] = stream_stream_full_outer
QUERIES["stream_stream_full_outer_multi"] = stream_stream_full_outer_multi
ORACLE["stream_stream_full_outer"] = _STREAM_STREAM_FULL_SQL
ORACLE["stream_stream_full_outer_multi"] = _STREAM_STREAM_FULL_SQL


# ---------------------------------------------------------------------------
# Chained stateful operators (round 7): two event-time aggregations in
# ONE streaming query — hourly (user, window) counts re-aggregated into
# daily rollups on the window column. Pre-3.5 Spark forbade a stateful
# op downstream of another; the chained form is the capability this op
# pins. Append mode + watermark: a day emits only once the watermark
# (global max event time - 10 min) passes its end, so the final open
# day is deliberately withheld — the oracle applies the SAME cutoff,
# making both forms full-oracle rather than S-tier.
#
# Scale: two keyed exchanges (hour-window x user, then day-window) with
# map-side partial agg on both; state is O(open windows), the append
# watermark evicts closed ones — the standard multi-grain rollup shape
# of a 100 TB event warehouse.


def _chained_rollup(ev: DataFrame, min_batches: int = 1) -> DataFrame:
    hourly = ev.withWatermark("ts", "10 minutes").groupBy(
        F.window("ts", "1 hour").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n"))
    daily = hourly.groupBy(F.window(F.col("w"), "1 day").alias("d")).agg(
        F.sum("n").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_user_hours"),
    )
    out = daily.select(
        F.unix_micros(F.col("d.start")).cast("long").alias("day_us"),
        "n_events",
        "n_user_hours",
    )
    return drain(out, mode="append", min_batches=min_batches)[0]


def stream_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chained_rollup(_events_stream(spark, sf_dir))


def stream_chained_agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-batch chronological replay: hour state accumulates across
    batches and daily rollups flush as the watermark crosses each day
    boundary mid-replay — early days emit from intermediate batches,
    not just the final flush."""
    return _chained_rollup(_events_stream_multi(spark, sf_dir), min_batches=2)


_CHAINED_SQL = """
WITH b AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id FROM events),
mx AS (SELECT MAX(ts) AS m FROM b),
hourly AS (
  SELECT date_trunc('hour', ts) AS h, user_id, COUNT(*) AS n
  FROM b GROUP BY 1, 2),
daily AS (
  SELECT date_trunc('day', h) AS d,
         SUM(n) AS n_events,
         COUNT(*) AS n_user_hours
  FROM hourly GROUP BY 1)
SELECT epoch_us(d) AS day_us,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_user_hours AS BIGINT) AS n_user_hours
FROM daily, mx
WHERE d + INTERVAL 1 DAY <= m - INTERVAL 10 MINUTE
"""

QUERIES["stream_chained_agg"] = stream_chained_agg
QUERIES["stream_chained_agg_multi"] = stream_chained_agg_multi
ORACLE["stream_chained_agg"] = _CHAINED_SQL
ORACLE["stream_chained_agg_multi"] = _CHAINED_SQL


def stream_foreach_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level ForeachWriter sink (the per-row sibling of
    stream_foreachbatch_sink): the 4-batch chronological events replay
    is written through a ``foreach(writer)`` sink, exercising the
    full open(partition, epoch) / process(row) / close(error)
    lifecycle. Exactly-once under task retry comes from EPOCH KEYING:
    each (partition, epoch) writes to a deterministic file name via a
    tmp file renamed into place only on successful close — a retried
    task atomically REPLACES its predecessor's output instead of
    appending alongside it, and a task that dies mid-write leaves only
    a .tmp the read-back never sees. The written rows are read back
    and aggregated; a dropped, duplicated, or torn epoch shifts the
    counts and hash-mismatches against the full-table oracle."""
    import glob

    out = scratch_dir("stream_foreach_sink", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    class _EpochKeyedRowWriter:
        def __init__(self, path: str) -> None:
            self.path = path

        def open(self, partition_id: int, epoch_id: int) -> bool:
            import os as _os

            self._final = _os.path.join(
                self.path, f"p{partition_id}-e{epoch_id}.jsonl"
            )
            self._tmp = self._final + ".tmp"
            self._fh = open(self._tmp, "w")
            return True  # process this (partition, epoch)

        def process(self, row) -> None:
            import json as _json

            self._fh.write(
                _json.dumps(
                    {
                        "event_id": row.event_id,
                        "event_type": row.event_type,
                        "user_id": row.user_id,
                    }
                )
                + "\n"
            )

        def close(self, error) -> None:
            import os as _os

            self._fh.close()
            if error is None:
                _os.replace(self._tmp, self._final)  # atomic epoch commit
            else:
                _os.remove(self._tmp)

    ev = _events_stream_multi(spark, sf_dir).select(
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        "user_id",
    )
    drain(ev, lambda w: w.foreach(_EpochKeyedRowWriter(out)))
    files = glob.glob(os.path.join(out, "p*-e*.jsonl"))
    epochs = {os.path.basename(f).rsplit("-e", 1)[1] for f in files}
    if len(epochs) < 2:
        raise AssertionError(
            f"expected >= 2 epochs from the multi-file replay, got {epochs}"
        )
    back = spark.read.schema(
        "event_id long, event_type string, user_id long"
    ).json(files)
    return back.groupBy("event_type").agg(
        bcount().alias("n"),
        F.sum("event_id").cast("long").alias("sum_eid"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


_FOREACH_SINK_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_eid,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1
"""

QUERIES["stream_foreach_sink"] = stream_foreach_sink
ORACLE["stream_foreach_sink"] = _FOREACH_SINK_SQL


_RATE_ROWS = 5000
_RATE_BATCHES = 3


def source_rate_micro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rate-micro-batch source (the deterministic benchmark/load
    generator Spark ships for streaming tests — its per-batch sibling
    ``rate`` is wall-clock-paced and R-tier by nature, this one is
    fully reproducible): rowsPerBatch=5000 with startTimestamp=0 and a
    fixed advanceMillisPerBatch, so batch k carries exactly the values
    [k*5000, (k+1)*5000). The query runs on the default micro-batch
    trigger and is stopped once >= 3 batches have committed; the
    aggregate filters to value < 15000 so any rows from batches that
    raced past the stop poll are excluded and the result set is exactly
    the first 3 batches regardless of timing. The timestamp column is
    checked (start + k*advance) via min/max epoch-ms riding along.

    Scale: the source generates rows executor-side (numPartitions=4
    here); nothing about the pattern changes with rowsPerBatch=5e8 on
    a cluster — it is the standard ingest-throughput harness."""
    cutoff = _RATE_ROWS * _RATE_BATCHES
    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", _RATE_ROWS)
        .option("numPartitions", 4)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 60000)
        .load()
    )
    sink, _ = drain(
        raw.select("timestamp", "value"),
        trigger={"processingTime": "0 seconds"},
        until=lambda progress: sum(p["numInputRows"] for p in progress) >= cutoff,
        min_batches=_RATE_BATCHES,
    )
    sink = sink.where(F.col("value") < cutoff)
    return sink.agg(
        bcount().alias("n"),
        F.sum("value").cast("long").alias("sum_v"),
        F.countDistinct("value").cast("long").alias("n_distinct"),
        F.min(F.unix_millis("timestamp")).cast("long").alias("min_ts_ms"),
        F.max(F.unix_millis("timestamp")).cast("long").alias("max_ts_ms"),
    )


_RATE_SQL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(r.range) AS BIGINT) AS sum_v,
       CAST(COUNT(DISTINCT r.range) AS BIGINT) AS n_distinct,
       CAST(0 AS BIGINT) AS min_ts_ms,
       CAST({(_RATE_BATCHES - 1) * 60000} AS BIGINT) AS max_ts_ms
FROM range({_RATE_ROWS * _RATE_BATCHES}) r
"""

QUERIES["source_rate_micro"] = source_rate_micro
ORACLE["source_rate_micro"] = _RATE_SQL
