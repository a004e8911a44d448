"""Derived-data caches (sources/derived.py) follow their inputs.

A cached build is reused only for the same inputs: regenerating a
table in place, or pointing the same op at a different directory with
the same name, must rebuild; an interrupted build (no marker) must be
rebuilt rather than read half-written.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow.parquet as pq
import pytest

from cortana_intelligence_customer360_spark.llmops.similarity import _ivf_index_dir
from cortana_intelligence_customer360_spark.operators.scans import (
    ORACLE,
    scan_recursive_glob,
    scan_schema_evolution,
)
from cortana_intelligence_customer360_spark.sources.derived import scratch_dir
from cortana_intelligence_customer360_spark.sources.tables import TABLES
from tests.conftest import SF_DIR, assert_frames_match


def _copy_inputs(dst: str, tables: list[str]) -> str:
    """Writable copy of some test tables under ``dst``."""
    os.makedirs(dst)
    for t in tables:
        shutil.copyfile(
            os.path.join(SF_DIR, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet")
        )
    return dst


def _keep_half(sf_dir: str, table: str) -> None:
    """Regenerate ``table`` in place with only its first half of rows."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    t = pq.read_table(path)
    os.remove(path)
    pq.write_table(t.slice(0, t.num_rows // 2), path)


def _check(spark, qid: str, op, sf_dir: str) -> None:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    try:
        assert_frames_match(op(spark, sf_dir), con.execute(ORACLE[qid]).df(), qid)
    finally:
        con.close()


@pytest.mark.parametrize("case", ["regenerated_in_place", "same_basename"])
def test_cache_follows_inputs(spark, tmp_path, case):
    qid = "scan_recursive_glob"
    if case == "regenerated_in_place":
        a = b = _copy_inputs(str(tmp_path / "sf_t"), ["events"])
    else:
        a = _copy_inputs(str(tmp_path / "a" / "sf_t"), ["events"])
        b = _copy_inputs(str(tmp_path / "b" / "sf_t"), ["events"])
    try:
        _check(spark, qid, scan_recursive_glob, a)
        _keep_half(b, "events")
        _check(spark, qid, scan_recursive_glob, b)
    finally:
        for d in {a, b}:
            shutil.rmtree(scratch_dir(qid, d), ignore_errors=True)


def test_interrupted_build_is_rebuilt(spark, tmp_path):
    """A build cut off after v_old/ (no v_new/, no marker) is redone."""
    from pyspark.sql import functions as F

    qid = "scan_schema_evolution"
    sf_dir = _copy_inputs(str(tmp_path / "sf_t"), ["orders"])
    out = scratch_dir(qid, sf_dir)
    try:
        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        orders.where(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")).drop(
            "o_orderpriority"
        ).write.mode("overwrite").parquet(os.path.join(out, "v_old"))
        _check(spark, qid, scan_schema_evolution, sf_dir)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_ivf_index_key_sees_subsecond_rewrite(tmp_path):
    """Two in-place rewrites within one wall-clock second must not
    share an IVF index directory."""
    sf_dir = _copy_inputs(str(tmp_path / "sf_t"), ["embeddings"])
    path = os.path.join(sf_dir, "embeddings.parquet")
    sec = int(os.stat(path).st_mtime) * 10**9
    os.utime(path, ns=(sec + 1_000, sec + 1_000))
    before = _ivf_index_dir(sf_dir, 16)
    os.utime(path, ns=(sec + 500_000_000, sec + 500_000_000))
    assert _ivf_index_dir(sf_dir, 16) != before


def test_state_checkpoint_follows_replay_rebuild(spark, tmp_path):
    """scan_state_store keeps its checkpoint across calls; when its
    replay files are rebuilt for new inputs, the state must be counted
    from the new files only."""
    from cortana_intelligence_customer360_spark.streaming import state_reader

    qid = "scan_state_store"
    sf_dir = _copy_inputs(str(tmp_path / "sf_t"), ["events"])
    try:
        for _ in range(2):
            con = duckdb.connect()
            path = os.path.join(sf_dir, "events.parquet")
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
            expected = con.execute(state_reader.ORACLE[qid]).df()
            con.close()
            assert_frames_match(state_reader.scan_state_store(spark, sf_dir), expected, qid)
            _keep_half(sf_dir, "events")
    finally:
        shutil.rmtree(scratch_dir("events_multifile", sf_dir), ignore_errors=True)
