"""Assembles the driver contract: queries() and oracle_sql().

Each operator module exports ``QUERIES`` (query id -> callable taking
(spark, sf_dir) and returning a DataFrame) and ``ORACLE`` (query id ->
DuckDB SQL string). This module merges them and enforces that ids are
unique and every oracle key has a matching query (SURVEY.md §2 is the
normative inventory; R/S-tier operators legitimately omit the oracle).
Every op is wrapped by ``session.as_op``, so it provisions its session
once per call (README "Session state").
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

from .session import as_op

_MODULES = [
    "cortana_intelligence_customer360_spark.operators.scans",
    "cortana_intelligence_customer360_spark.operators.filters",
    "cortana_intelligence_customer360_spark.operators.joins",
    "cortana_intelligence_customer360_spark.operators.aggregates",
    "cortana_intelligence_customer360_spark.operators.windows",
    "cortana_intelligence_customer360_spark.operators.setops",
    "cortana_intelligence_customer360_spark.operators.quality",
    "cortana_intelligence_customer360_spark.operators.tpch",
    "cortana_intelligence_customer360_spark.operators.tpch2",
    "cortana_intelligence_customer360_spark.operators.merge",
    "cortana_intelligence_customer360_spark.operators.graph",
    "cortana_intelligence_customer360_spark.operators.spatial",
    "cortana_intelligence_customer360_spark.operators.timeseries",
    "cortana_intelligence_customer360_spark.operators.sketches",
    "cortana_intelligence_customer360_spark.operators.catalog",
    "cortana_intelligence_customer360_spark.operators.sqlsurface",
    "cortana_intelligence_customer360_spark.operators.pandas_api",
    "cortana_intelligence_customer360_spark.functions.scalar",
    "cortana_intelligence_customer360_spark.functions.network",
    "cortana_intelligence_customer360_spark.functions.formatting",
    "cortana_intelligence_customer360_spark.functions.markup",
    "cortana_intelligence_customer360_spark.functions.udfs",
    "cortana_intelligence_customer360_spark.functions.protobuf_codec",
    "cortana_intelligence_customer360_spark.features.core",
    "cortana_intelligence_customer360_spark.features.attribution",
    "cortana_intelligence_customer360_spark.features.ml",
    "cortana_intelligence_customer360_spark.features.mllib_native",
    "cortana_intelligence_customer360_spark.features.recsys",
    "cortana_intelligence_customer360_spark.features.identity",
    "cortana_intelligence_customer360_spark.features.value",
    "cortana_intelligence_customer360_spark.features.experiments",
    "cortana_intelligence_customer360_spark.features.inference",
    "cortana_intelligence_customer360_spark.features.stats2",
    "cortana_intelligence_customer360_spark.llmops.text",
    "cortana_intelligence_customer360_spark.llmops.dedup",
    "cortana_intelligence_customer360_spark.llmops.incremental",
    "cortana_intelligence_customer360_spark.llmops.similarity",
    "cortana_intelligence_customer360_spark.llmops.multimodal",
    "cortana_intelligence_customer360_spark.llmops.pipeline",
    "cortana_intelligence_customer360_spark.llmops.scoring",
    "cortana_intelligence_customer360_spark.llmops.embeddings",
    "cortana_intelligence_customer360_spark.streaming.ops",
    "cortana_intelligence_customer360_spark.streaming.heavy",
    "cortana_intelligence_customer360_spark.streaming.typed_state",
    "cortana_intelligence_customer360_spark.streaming.state_reader",
    "cortana_intelligence_customer360_spark.streaming.quota",
    "cortana_intelligence_customer360_spark.sources.lakehouse",
]

QueryFn = Callable[[SparkSession, str], DataFrame]


def build() -> tuple[dict[str, QueryFn], dict[str, str]]:
    queries: dict[str, QueryFn] = {}
    oracle: dict[str, str] = {}
    for modname in _MODULES:
        try:
            mod = import_module(modname)
        except ModuleNotFoundError as exc:
            # Module not built yet (incremental rounds); skip only if it
            # is the module itself that's missing, not its dependencies.
            if exc.name and modname.endswith(exc.name.rsplit(".", 1)[-1]):
                continue
            raise
        for qid, fn in getattr(mod, "QUERIES", {}).items():
            if qid in queries:
                raise ValueError(f"duplicate query id {qid!r} in {modname}")
            queries[qid] = as_op(fn)
        for qid, sql in getattr(mod, "ORACLE", {}).items():
            if qid in oracle:
                raise ValueError(f"duplicate oracle id {qid!r} in {modname}")
            oracle[qid] = sql
    missing = set(oracle) - set(queries)
    if missing:
        raise ValueError(f"oracle entries without queries: {sorted(missing)}")
    return queries, oracle
