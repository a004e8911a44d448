"""The session boundary (session.py): what an op does to the caller's
SparkSession. Ops provision their runtime confs at the registry
boundary, scope every temporary override, and leave no catalog entry
behind (README "Session state")."""

from __future__ import annotations

import pytest

from cortana_intelligence_customer360_spark import registry
from cortana_intelligence_customer360_spark.session import session_conf

QUERIES, ORACLE = registry.build()

# One op per helper that used to register a uniquely named catalog
# entry on every call: memory sinks (_drain_to_memory,
# _drain_until_empty, _run_checkpointed, the rate / file / Python stream
# sources) and temp views handed to spark.sql (UDTF, LATERAL, GROUPING
# SETS).
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
