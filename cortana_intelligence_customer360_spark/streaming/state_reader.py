"""State-store introspection and checkpoint-restart semantics (round 6).

Two engine-grade capabilities a streaming operator team relies on:

- ``scan_state_store``: Spark 4's batch STATE READER
  (``spark.read.format("statestore")``) over a stateful query's
  checkpoint — the ops tool for inspecting, auditing, or seeding
  state without replaying the stream. After an availableNow drain the
  aggregation state IS the batch aggregate, so the read carries a
  full oracle.

- ``stream_restart_resume``: exactly-once RESUME from checkpoint —
  the property that makes streaming pipelines operable at all. The
  source dir starts with the first half of the chronological replay
  files, a checkpointed query drains it and STOPS; the second half
  arrives; a NEW query object on the SAME checkpoint resumes and must
  produce totals identical to one batch pass (no double-count of the
  first half, no loss of offsets). The file copies simulate arrival;
  state and offsets flow only through the checkpoint.

Scale: state-reader tasks are one-per-state-partition (the same
parallelism the stream ran with); resume cost is O(new files). Both
are metadata-bounded on the driver.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import STATE_PARTITIONS, drain
from ..sources.derived import scratch_dir
from ..sources.tables import load_table
from .ops import _MULTI_FILES, _events_multifile_src


_EVENTS_US_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


def _state_ck(spark: SparkSession, sf_dir: str) -> str:
    """scan_state_store's checkpoint. It lives inside the replay dir it
    drains (Spark's file listing skips ``_``-prefixed entries), so a
    rebuild of that dir, whose files get new names, also drops the state
    counted from the old files instead of adding the new ones to it."""
    return os.path.join(_events_multifile_src(spark, sf_dir), "_state_ck")


def scan_state_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain a checkpointed per-type count aggregation, then read the
    aggregation STATE as a batch table and flatten it. Idempotent: a
    re-run against an existing checkpoint sees no new files and leaves
    state untouched."""
    src = _events_multifile_src(spark, sf_dir)
    ck = _state_ck(spark, sf_dir)
    raw = spark.readStream.schema(_EVENTS_US_SCHEMA).parquet(src)
    agg = raw.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    drain(agg, mode="complete", checkpoint=ck, min_batches=0)
    state = spark.read.format("statestore").load(ck)
    # The state schema carries the PHYSICAL aggregate name ("count"),
    # not the logical alias — part of what this reader exposes.
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("long").alias("n"),
    )


_STATE_STORE_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1
"""


def scan_state_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The state-metadata companion read: operator/store layout of the
    same checkpoint (names, partition counts, committed batch range).
    Deterministic because the replay file count fixes maxBatchId."""
    scan_state_store(spark, sf_dir)  # ensure the checkpoint exists
    md = spark.read.format("state-metadata").load(_state_ck(spark, sf_dir))
    return md.select(
        F.col("operatorId").cast("long").alias("operator_id"),
        "operatorName",
        "stateStoreName",
        F.col("numPartitions").cast("long").alias("n_partitions"),
        F.col("minBatchId").cast("long").alias("min_batch_id"),
        F.col("maxBatchId").cast("long").alias("max_batch_id"),
    )


_STATE_METADATA_SQL = f"""
SELECT CAST(0 AS BIGINT) AS operator_id,
       'stateStoreSave' AS operatorName,
       'default' AS stateStoreName,
       CAST({STATE_PARTITIONS} AS BIGINT) AS n_partitions,
       CAST(0 AS BIGINT) AS min_batch_id,
       CAST(0 AS BIGINT) AS max_batch_id
"""


def stream_restart_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase arrival with a stop/restart between: totals after the
    resumed run must equal one batch pass over everything."""
    src = _events_multifile_src(spark, sf_dir)
    stage = scratch_dir("stream_restart_stage", sf_dir)
    ck = scratch_dir("stream_restart_ck", sf_dir)
    # Fresh staging + checkpoint per invocation: the op's subject IS
    # the restart handoff, so it must replay it deterministically.
    shutil.rmtree(stage, ignore_errors=True)
    shutil.rmtree(ck, ignore_errors=True)
    os.makedirs(stage)
    parts = sorted(
        (p for p in os.listdir(src) if p.startswith("part-")),
        key=lambda p: os.path.getmtime(os.path.join(src, p)),
    )
    half = _MULTI_FILES // 2

    def _stream_agg() -> DataFrame:
        raw = spark.readStream.schema(_EVENTS_US_SCHEMA).parquet(stage)
        return raw.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("event_id")).cast("long").alias("sum_eid"),
        )

    def _run() -> tuple[int, DataFrame]:
        # Rows this RUN read: the resume proof (a resumed run must see
        # only the new files), plus the sink's rows.
        rows, progress = drain(_stream_agg(), mode="complete", checkpoint=ck)
        return sum(int(p["numInputRows"]) for p in progress), rows

    for p in parts[:half]:
        shutil.copy2(os.path.join(src, p), os.path.join(stage, p))
    n_first, _ = _run()

    for p in parts[half:]:
        shutil.copy2(os.path.join(src, p), os.path.join(stage, p))
    n_second, totals = _run()
    total = load_table(spark, sf_dir, "events").count()
    # The resume proof: run 2 saw ONLY the late files. If the
    # checkpoint handoff were broken (fresh offsets), run 2 would
    # reprocess everything and this trips even though complete-mode
    # totals might coincidentally still match.
    if not (0 < n_second < total and n_first + n_second == total):
        raise AssertionError(
            f"resume processed {n_second} rows of {total} "
            f"(first run {n_first}) - checkpoint handoff broken"
        )
    return totals


_RESTART_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_eid
FROM events GROUP BY 1
"""


QUERIES = {
    "scan_state_store": scan_state_store,
    "scan_state_metadata": scan_state_metadata,
    "stream_restart_resume": stream_restart_resume,
}
ORACLE = {
    "scan_state_store": _STATE_STORE_SQL,
    "scan_state_metadata": _STATE_METADATA_SQL,
    "stream_restart_resume": _RESTART_SQL,
}
