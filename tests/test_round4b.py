"""Semantic tests for the round-4 second-wave operators (SURVEY §5.3):
properties the DuckDB oracle can't state (estimator sanity, DST
offsets, retention failure modes, exactly-once observation)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from cortana_intelligence_customer360_spark.operators.sketches import (
    _TH_K,
    agg_theta_setops,
)
from cortana_intelligence_customer360_spark.operators.quality import (
    dq_observe_metrics,
)
from cortana_intelligence_customer360_spark.functions.scalar import (
    fn_datetime_tz,
)
from cortana_intelligence_customer360_spark.sources.lakehouse import (
    lake_vacuum,
)
from cortana_intelligence_customer360_spark.llmops.multimodal import (
    _DH_COLS,
    _DH_ROWS,
    multimodal_phash_dedup,
)
from cortana_intelligence_customer360_spark.sources.tables import load_table


def test_theta_exact_branch_matches_truth(spark, sf_dir):
    """Below k the sketches ARE the sets: the union/intersection
    'estimates' must equal the exact counts."""
    rows = agg_theta_setops(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.n_union_sample < _TH_K:
            assert r.inter_est == float(r.n_exact_inter), r
        else:
            # estimator regime: nonnegative, intersection <= union
            assert 0.0 <= r.inter_est <= r.union_est + 1e-9, r


def test_theta_union_bounds(spark, sf_dir):
    """Union estimate is within a loose multiplicative band of the
    true distinct-union (rank error ~1/sqrt(k))."""
    from collections import defaultdict

    sets = defaultdict(set)
    for r in (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
        .collect()
    ):  # types x users — bounded at test scale
        sets[r.event_type].add(r.user_id)
    for r in agg_theta_setops(spark, sf_dir).collect():
        t = len(sets[r.type_a] | sets[r.type_b])
        assert 0.5 * t <= r.union_est <= 2.0 * t, (r, t)
        assert r.n_exact_inter == len(sets[r.type_a] & sets[r.type_b])


def test_datetime_tz_offsets_are_ny_legal(spark, sf_dir):
    """Every NY wall clock is exactly 4h or 5h behind UTC (EDT/EST),
    Tokyo exactly +9h — pins that real tzdb rules were applied."""
    fmt = "%Y-%m-%d %H:%M:%S.%f"
    for r in fn_datetime_tz(spark, sf_dir).limit(500).collect():
        utc = datetime.strptime(r.utc_wall, fmt)
        ny = datetime.strptime(r.ny_wall, fmt)
        tk = datetime.strptime(r.tokyo_wall, fmt)
        off = (utc - ny).total_seconds()
        assert off in (4 * 3600.0, 5 * 3600.0), r
        assert (tk - utc).total_seconds() == 9 * 3600.0, r


def test_lake_vacuum_contract(spark, sf_dir):
    """Live rows unchanged, history physically unreadable — including
    that an actual time-travel READ past the horizon now raises."""
    import pytest as _pytest

    from cortana_intelligence_customer360_spark.sources.derived import scratch_dir
    from cortana_intelligence_customer360_spark.sources.lakehouse import ManifestTable

    out = lake_vacuum(spark, sf_dir).collect()
    assert out
    assert all(r.files_removed_some and r.old_unreadable for r in out)
    orders = load_table(spark, sf_dir, "orders")
    assert sum(r.n_orders for r in out) == orders.count()
    t = ManifestTable(scratch_dir("lake_vacuum", sf_dir))
    with _pytest.raises(Exception):
        t.read(spark, version=0).count()


def test_phash_matches_formula(spark, sf_dir):
    """The dHash computed from REAL decoded PNG bytes equals the hash
    derived from the generative pixel formula — decode fidelity down
    to individual pixel comparisons."""
    rows = multimodal_phash_dedup(spark, sf_dir).limit(200).collect()
    assert rows
    for r in rows:
        d = r.doc_id
        w, h = d % 13 + 4, d % 9 + 3
        bits = 0
        for y in range(_DH_ROWS):
            ys = y * h // _DH_ROWS
            for x in range(_DH_COLS - 1):
                a = (d + 7 * (x * w // _DH_COLS) + 13 * ys) % 256
                b = (d + 7 * ((x + 1) * w // _DH_COLS) + 13 * ys) % 256
                if a > b:
                    bits |= 1 << (y * (_DH_COLS - 1) + x)
        assert bits == r.dhash, (d, bits, r.dhash)


def test_observe_sees_every_row_once(spark, sf_dir):
    out = dq_observe_metrics(spark, sf_dir).collect()[0]
    assert out.n_rows == load_table(spark, sf_dir, "customer").count()
    assert out.n_null_nation == 0
