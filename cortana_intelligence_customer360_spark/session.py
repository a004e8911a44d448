"""SparkSession factory and the session policy every op runs under.

Local testing runs on local[N] (single JVM); the configs below are the
ones that also matter on a real cluster at 100 TB:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  sort-merge->broadcast conversion replace hand-tuned partition counts.
- Arrow on: every JVM<->Python crossing (pandas_udf, applyInPandas,
  toPandas) moves columnar batches, not pickled rows.
- UTC session timezone: the data is UTC; keeps window()/date_trunc
  bucket edges identical between Spark and the DuckDB oracle.
- shuffle.partitions sized to cores locally; on a cluster AQE coalesces
  from a deliberately-high initial number instead.

This module is also the one place that knows what an op may do to the
caller's session (README "Session state"): ``provision`` sets the
runtime confs once per op at the registry boundary (``as_op``),
``session_conf`` scopes a temporary override, and ``drain`` runs every
streaming query: its name, conf scope, checkpoint, wait and cleanup.
"""

from __future__ import annotations

import functools
import itertools
import os
import shutil
import tempfile
import time
from collections.abc import Callable, Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def provision(spark: SparkSession) -> None:
    """Self-provision the runtime confs every query depends on, so the
    engine behaves identically under ANY caller's SparkSession (a
    caller may build its own, without the tuning in ``get_spark``):

    - UTC session timezone: the data is UTC wall-clock; epoch
      extraction (compat.epoch_us) must not shift by a local offset.
    - nanosAsLong: lets older Spark 4 runtimes read events.ts (parquet
      TIMESTAMP_NANOS) as a long; 4.1.2 ignores it (reads ntz) — both
      shapes are normalized in load_table / raw_ts_to_timestamp.
    - Arrow: columnar JVM<->Python transfer for pandas UDF operators.
    """
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked down in this deployment; proceed
    try:
        # Streaming plans can't use AQE's partition coalescing, so the
        # stock 200 shuffle partitions means 200 tiny state-store tasks
        # per micro-batch on a laptop-sized run. Right-size only if the
        # caller left the default; an explicit setting is respected.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            cores = spark.sparkContext.defaultParallelism
            spark.conf.set("spark.sql.shuffle.partitions", str(max(8, min(64, cores * 2))))
    except Exception:
        pass


def as_op(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """The registry boundary: ``fn(spark, sf_dir)`` run after
    ``provision(spark)``."""

    @functools.wraps(fn)
    def op(spark: SparkSession, sf_dir: str) -> DataFrame:
        provision(spark)
        return fn(spark, sf_dir)

    return op


@contextmanager
def session_conf(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` for the body, then put each key back: its prior
    value if it had one, unset if it had none (also when the body
    raises). Confs read at planning or query start only hold for plans
    that run inside the body."""
    prior = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# Shuffle partitions every drain runs with. A streaming query pins the
# count at its first start, and the HDFS-backed state store snapshots one
# store per partition per stateful operator per batch, so at local
# volumes that fixed cost dwarfs the data: 32 -> 8 cut the 4-batch
# stream-stream join from 40 s to 7 s at sf0.1, and the round-11 A/B
# found 32 worse and 16 no better (OPTIMIZATION_r11.md). On a cluster
# size it to cores: state partitioning is how these operators scale out.
STATE_PARTITIONS = "8"

# A drain that commits no micro-batch with input rows for this long is
# stopped and raises TimeoutError. It stays above the slowest single
# batch in SCALE_SMOKE.md (the longest whole drain there is 471 s at 100x).
DRAIN_STALL_S = 600.0
_POLL_S = 0.2
_DRAIN_SEQ = itertools.count(1)  # next() is atomic under CPython


def drain(
    df: DataFrame,
    sink: str | Callable[[DataStreamWriter], DataStreamWriter] = "memory",
    *,
    mode: str = "append",
    trigger: Mapping[str, object] | None = None,
    checkpoint: str | None = None,
    until: Callable[[list], bool] | None = None,
    min_batches: int = 1,
) -> tuple[DataFrame | None, list]:
    """Run streaming ``df`` into ``sink`` and return ``(rows, progress)``:
    the memory sink's rows (None for any other sink) and the query's
    recent progress.

    ``sink`` is ``"memory"`` or ``fn(writer) -> writer`` that attaches
    the sink (foreachBatch, foreach, a format). The query runs under
    ``trigger`` (default availableNow) with ``STATE_PARTITIONS`` shuffle
    partitions. It is stopped once ``until(progress)`` holds, or raises
    TimeoutError naming it after ``DRAIN_STALL_S`` without a batch that
    read input rows. ``min_batches`` asserts the run really was
    incremental: multi-batch forms must not silently collapse into one
    batch, or they stop exercising cross-batch state merge.

    Without ``checkpoint`` the query checkpoints into a fresh temp dir
    removed afterwards, also on error; a given ``checkpoint`` belongs to
    the caller and persists (state reads, restart). The memory sink's
    view is resolved and dropped, so the drain leaves no catalog entry.
    """
    spark = df.sparkSession
    name = f"c360_drain_{next(_DRAIN_SEQ)}"
    writer = df.writeStream.queryName(name).outputMode(mode)
    writer = writer.format("memory") if sink == "memory" else sink(writer)
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    ck = checkpoint or tempfile.mkdtemp(prefix="c360-drain-")
    try:
        with session_conf(spark, {"spark.sql.shuffle.partitions": STATE_PARTITIONS}):
            q = writer.option("checkpointLocation", ck).start()
            try:
                _wait(q, until)
            finally:
                q.stop()
        progress = q.recentProgress
        # The resolved frame still collects after its view is dropped.
        rows = spark.table(name) if sink == "memory" else None
    finally:
        if sink == "memory":
            spark.catalog.dropTempView(name)
        if checkpoint is None:
            shutil.rmtree(ck, ignore_errors=True)
    n_batches = sum(1 for p in progress if p["numInputRows"] > 0)
    if n_batches < min_batches:
        raise AssertionError(
            f"expected >= {min_batches} non-empty micro-batches, got {n_batches}"
        )
    return rows, progress


def _wait(q: StreamingQuery, until: Callable[[list], bool] | None) -> None:
    """Return when ``q`` terminates (re-raising its error) or
    ``until(progress)`` holds; raise TimeoutError on a stall."""
    seen, last = -1, time.monotonic()
    while not q.awaitTermination(_POLL_S):
        progress = q.recentProgress
        if until is not None and until(progress):
            return
        data = [p["batchId"] for p in progress if p["numInputRows"] > 0]
        if data and data[-1] > seen:
            seen, last = data[-1], time.monotonic()
        elif time.monotonic() - last > DRAIN_STALL_S:
            raise TimeoutError(
                f"streaming query {q.name} committed no batch with input "
                f"rows for {DRAIN_STALL_S:g} s"
            )


def get_spark(
    app_name: str = "c360-spark",
    cpus: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, then os.cpu_count().
    ``driver_memory`` only takes effect if the JVM is not yet started.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    if driver_memory:
        builder = builder.config("spark.driver.memory", driver_memory)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    provision(spark)
    return spark
