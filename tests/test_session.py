"""The session boundary (session.py): what an op does to the caller's
SparkSession. Ops provision their runtime confs at the registry
boundary, scope every temporary override, run every streaming query
through one drain, and leave no catalog entry or checkpoint dir behind
(README "Session state")."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest

from cortana_intelligence_customer360_spark import registry, session
from cortana_intelligence_customer360_spark.session import drain, session_conf
from cortana_intelligence_customer360_spark.sources.derived import scratch_dir

QUERIES, ORACLE = registry.build()

# One op per drain shape that used to register a uniquely named catalog
# entry on every call: memory sinks (plain availableNow, stopped once the
# backlog is drained, caller-owned checkpoint, the rate / file / Python
# stream sources) and temp views handed to spark.sql (UDTF, LATERAL,
# GROUPING SETS).
_SINK_AND_VIEW_OPS = [
    "stream_tumbling_multi",
    "stream_transform_ttl",
    "scan_state_store",
    "stream_restart_resume",
    "source_rate_micro",
    "source_stream_files",
    "source_python_stream",
    "udtf_python",
    "join_lateral_topk",
    "agg_grouping_sets",
]


def _catalog(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables()}


@pytest.mark.parametrize("qid", _SINK_AND_VIEW_OPS)
def test_op_leaves_catalog_unchanged(qid, spark, sf_dir):
    before = _catalog(spark)
    df = QUERIES[qid](spark, sf_dir)
    assert _catalog(spark) == before
    assert df.count() >= 0  # the frame still runs after its view is dropped


def test_op_provisions_a_vanilla_caller_session(spark, sf_dir, duck):
    """Under a caller session with a non-UTC timezone, the stock 200
    shuffle partitions and Arrow off, a timezone-dependent op still
    matches its oracle, and leaves exactly the documented confs set."""
    from tests.conftest import assert_frames_match

    qid = "agg_time_bucket_rollup"
    caller = {
        "spark.sql.session.timeZone": "America/New_York",
        "spark.sql.shuffle.partitions": "200",
        "spark.sql.execution.arrow.pyspark.enabled": "false",
    }
    with session_conf(spark, caller):
        assert_frames_match(QUERIES[qid](spark, sf_dir), duck.execute(ORACLE[qid]).df(), qid)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
        assert spark.conf.get("spark.sql.shuffle.partitions") != "200"


@pytest.mark.parametrize("raises", [False, True], ids=["returns", "raises"])
def test_session_conf_restores_prior_state(spark, raises):
    was_set, was_unset = "spark.sql.shuffle.partitions", "spark.c360.test.scoped_unset"
    prior = spark.conf.get(was_set)
    assert spark.conf.get(was_unset, None) is None

    def body():
        with session_conf(spark, {was_set: "3", was_unset: "on"}):
            assert spark.conf.get(was_set) == "3"
            assert spark.conf.get(was_unset) == "on"
            if raises:
                raise RuntimeError("body failed")

    if raises:
        with pytest.raises(RuntimeError):
            body()
    else:
        body()
    assert spark.conf.get(was_set) == prior
    assert spark.conf.get(was_unset, None) is None


@pytest.fixture
def drain_tmp(spark, tmp_path, monkeypatch):
    """Point the drain's default checkpoints at an empty dir and yield
    it, failing if Spark made a checkpoint dir of its own meanwhile."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    jvm_tmp = spark.sparkContext._jvm.System.getProperty("java.io.tmpdir")
    spark_tmp = os.path.join(jvm_tmp, "temporary-*")
    before = set(glob.glob(spark_tmp))
    yield tmp_path
    assert set(glob.glob(spark_tmp)) <= before


def test_drain_stall_raises_and_cleans_up(spark, drain_tmp, tmp_path_factory, monkeypatch):
    """A query that commits no batch with input rows is stopped and
    raises TimeoutError naming it; it leaves no active query, catalog
    entry or checkpoint dir."""
    monkeypatch.setattr(session, "DRAIN_STALL_S", 1.0)
    src = tmp_path_factory.mktemp("empty_src")
    stream = spark.readStream.schema("x long").parquet(str(src))
    before = _catalog(spark)
    with pytest.raises(TimeoutError, match=r"streaming query c360_drain_\d+"):
        drain(stream, trigger={"processingTime": "0 seconds"})
    assert spark.streams.active == []
    assert _catalog(spark) == before
    assert os.listdir(drain_tmp) == []


def test_drain_body_error_propagates_and_cleans_up(spark, drain_tmp):
    """A foreachBatch body that raises fails the drain with its own
    error, and the drain leaves no checkpoint dir."""

    def body(batch_df, batch_id):
        raise ValueError("foreachBatch body failed on purpose")

    stream = spark.readStream.format("rate-micro-batch").option("rowsPerBatch", 5).load()
    with pytest.raises(Exception, match="foreachBatch body failed on purpose"):
        drain(
            stream,
            lambda w: w.foreachBatch(body),
            trigger={"processingTime": "0 seconds"},
        )
    assert spark.streams.active == []
    assert os.listdir(drain_tmp) == []


def test_sink_ops_leave_no_checkpoint_dir(spark, sf_dir):
    """Ops that used to keep a checkpoint under .scratch/ now leave
    none there."""
    legacy = [
        scratch_dir("stream_foreach_sink_ckpt", sf_dir),
        scratch_dir("sink_python_stream_writer_ckpt", sf_dir),
    ]
    for d in legacy:  # left by earlier checkouts
        shutil.rmtree(d, ignore_errors=True)
    for qid in ("stream_foreach_sink", "sink_python_stream_writer"):
        assert QUERIES[qid](spark, sf_dir).count() > 0
    scratch = os.path.dirname(legacy[0])
    assert glob.glob(os.path.join(scratch, "*_ckpt-*")) == []


def test_streams_start_only_in_the_drain():
    """Every streaming query goes through session.drain: no other
    package module may start, wait on or read the progress of one."""
    pkg = os.path.dirname(session.__file__)
    offenders = []
    for root, dirs, files in os.walk(pkg):
        dirs[:] = [d for d in dirs if d not in ("vendor", "__pycache__")]
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == session.__file__:
                continue
            with open(path) as fh:
                text = fh.read()
            for token in ("writeStream", "awaitTermination(", "recentProgress"):
                if token in text:
                    offenders.append(f"{os.path.relpath(path, pkg)}: {token}")
    assert offenders == []
