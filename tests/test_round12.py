"""Round-12 optimization guards.

Pins the internals the r12 optimization waves changed:
- agg_regr_family's limbed LONG sums (no wide-decimal sum buffers in
  the aggregate) while its values still equal the regr_* closed form.
- _TypeCountProcessor's read-once/merge-locally map handling emits the
  same rows and issues the same map updates as the per-type-getValue
  form it replaced.
- ann_ivf_build times a real build (force=True reaches the builder —
  the mtime-cache early-return cannot satisfy it).
- the versioned foreachBatch sinks equal their oracles batch-for-batch
  (covered by the existing oracle tests; here we pin that the final
  read comes from the LAST version dir and versions accumulate).
"""

from __future__ import annotations

import glob
import os

import pytest

from cortana_intelligence_customer360_spark.operators.aggregates import (
    agg_regr_family,
)
from cortana_intelligence_customer360_spark.sources.derived import scratch_dir
from cortana_intelligence_customer360_spark.plans.asserts import plan_string

SF_DIR = "/root/testdata/sf0.001"


def test_regr_family_aggregate_has_no_wide_decimal_sums(spark):
    import re

    plan = plan_string(agg_regr_family(spark, SF_DIR)).lower()
    # the three NARROW moment sums (qty, cents, qty²) must run as LONG
    # codegen aggregation; only the two wide products (qty*price,
    # price²) keep decimal sums (their limbed LONG split was measured
    # 3.3x slower — see OPTIMIZATION_r12.md). Expression ids (#n) vary,
    # so match around them.
    assert re.search(r"sum\(cast\(l_quantity#\d+ as bigint\)", plan), plan
    assert not re.search(r"sum\(cast\(l_quantity#\d+ as decimal", plan), plan
    assert not re.search(
        r"sum\(cast\(l_extendedprice#\d+ as decimal", plan
    ), plan
    # the two wide products keep their decimal(38,10) sums
    assert plan.count("as decimal(38,10))") >= 2, plan
    # and the values still match Spark's native regr_* closed form
    from pyspark.sql import functions as F

    from cortana_intelligence_customer360_spark.sources.tables import load_table

    got = {r["l_returnflag"]: r for r in agg_regr_family(spark, SF_DIR).collect()}
    li = load_table(spark, SF_DIR, "lineitem")
    ref = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.regr_slope("l_extendedprice", "l_quantity").alias("slope"),
            F.regr_intercept("l_extendedprice", "l_quantity").alias("icpt"),
            F.regr_r2("l_extendedprice", "l_quantity").alias("r2"),
        )
        .collect()
    }
    for flag, r in got.items():
        assert r["slope"] == pytest.approx(ref[flag]["slope"], abs=2e-6)
        assert r["intercept"] == pytest.approx(ref[flag]["icpt"], abs=2e-6)
        assert r["r2"] == pytest.approx(ref[flag]["r2"], abs=2e-6)


class _FakeMapState:
    """Minimal MapState stub recording updates."""

    def __init__(self, init):
        self.data = dict(init)
        self.updates = []

    def iterator(self):
        return iter([((k,), (v,)) for k, v in self.data.items()])

    def getValue(self, key):
        v = self.data.get(key[0])
        return (v,) if v is not None else None

    def updateValue(self, key, value):
        self.data[key[0]] = value[0]
        self.updates.append((key[0], value[0]))


def test_typecount_processor_merges_locally_and_emits_full_map():
    import pandas as pd

    from cortana_intelligence_customer360_spark.streaming.typed_state import (
        _TypeCountProcessor,
    )

    proc = _TypeCountProcessor()
    proc._map = _FakeMapState({"view": 3})
    pdf = pd.DataFrame({"event_type": ["view", "view", "purchase"]})
    [out] = list(proc.handleInputRows((7,), iter([pdf]), None))
    rows = {(r.event_type): int(r.n) for r in out.itertuples(index=False)}
    assert rows == {"view": 5, "purchase": 1}
    assert set(out["user_id"]) == {7}
    # only the touched types were written back, with merged totals
    assert sorted(proc._map.updates) == [("purchase", 1), ("view", 5)]


def test_ann_ivf_build_runs_a_real_build(spark, tmp_path, monkeypatch):
    """force=True must reach the builder even when the cache dir is
    warm — the timed op can no longer early-return on a stat."""
    import cortana_intelligence_customer360_spark.llmops.similarity as sim

    calls = []
    real = sim.ivf_build_index

    def spy(spark_, sf_dir, k=16, force=False):
        calls.append(force)
        return real(spark_, sf_dir, k=k, force=force)

    monkeypatch.setattr(sim, "ivf_build_index", spy)
    real(spark, SF_DIR)  # warm cache, as the bench warm pass does
    out = sim.ann_ivf_build(spark, SF_DIR)
    assert out.collect()[0]["n_lists"] == 16
    assert calls and calls[-1] is True


def test_foreachbatch_versions_accumulate(spark):
    from cortana_intelligence_customer360_spark.streaming.ops import (
        stream_foreachbatch_multi,
    )

    res = stream_foreachbatch_multi(spark, SF_DIR)
    assert res.count() > 0
    sink = scratch_dir("stream_foreachbatch_multi", SF_DIR)
    versions = sorted(glob.glob(os.path.join(sink, "v*")))
    # the 4-file replay must leave one committed state dir per batch
    assert len(versions) >= 2, versions
