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
``session_conf`` scopes a temporary override, and ``detach_view``
takes a memory sink's result out of the catalog.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable, Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


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


def detach_view(spark: SparkSession, name: str) -> DataFrame:
    """Resolve temp view ``name`` (a memory sink) and drop it from the
    catalog, so an op leaves no entry behind. The frame keeps the
    resolved plan and still collects after the drop."""
    df = spark.table(name)
    spark.catalog.dropTempView(name)
    return df


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
