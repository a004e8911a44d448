"""Manifest-table format invariants (sources/lakehouse.py): immutable
commits, snapshot-isolated time travel, atomic pointer flips, and
stats-based file skipping that provably never opens pruned files.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cortana_intelligence_customer360_spark.sources.lakehouse import ManifestTable
from cortana_intelligence_customer360_spark.sources.tables import load_table


def _orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders")


def test_append_never_rewrites_history(spark, sf_dir, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    orders = _orders(spark, sf_dir)
    t.commit(orders.where(F.col("o_orderkey") % 2 == 0), "o_orderkey")
    v0_files = {f["path"] for f in t.manifest(0)["files"]}
    mtimes = {p: os.path.getmtime(p) for p in v0_files}
    t.commit(orders.where(F.col("o_orderkey") % 2 == 1), "o_orderkey")
    v1_files = {f["path"] for f in t.manifest(1)["files"]}
    assert v0_files < v1_files  # strict superset: old files carried forward
    for p in v0_files:  # ...and untouched on disk
        assert os.path.getmtime(p) == mtimes[p]


def test_time_travel_survives_overwrite(spark, sf_dir, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    orders = _orders(spark, sf_dir)
    n_even = orders.where(F.col("o_orderkey") % 2 == 0).count()
    t.commit(orders.where(F.col("o_orderkey") % 2 == 0), "o_orderkey")
    t.commit(orders.where(F.col("o_orderkey") == 0), "o_orderkey", mode="overwrite")
    # latest is the single-row overwrite; v0 reads intact through its manifest
    assert t.latest_version() == 1
    assert t.read(spark, version=0).count() == n_even


def test_latest_pointer_is_atomic_payload(spark, sf_dir, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    t.commit(_orders(spark, sf_dir).limit(10), "o_orderkey")
    # no .tmp debris after a successful commit; pointer parses clean
    assert not [p for p in os.listdir(t.manifest_dir) if p.endswith(".tmp")]
    assert t.latest_version() == 0


def test_pruned_scan_opens_strictly_fewer_files(spark, sf_dir, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    orders = _orders(spark, sf_dir)
    t.commit(orders.repartitionByRange(8, "o_orderkey"), "o_orderkey")
    total = len(t.select_files())
    mx = orders.agg(F.max("o_orderkey")).collect()[0][0]
    picked = t.select_files(key_min=mx // 4, key_max=mx // 2)
    assert 0 < len(picked) < total, (len(picked), total)
    # correctness of the pruned read vs a plain filter
    want = orders.where(
        (F.col("o_orderkey") >= mx // 4) & (F.col("o_orderkey") <= mx // 2)
    ).count()
    got = t.read(spark, key_min=mx // 4, key_max=mx // 2).count()
    assert got == want


def test_manifest_stats_match_data(spark, sf_dir, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    orders = _orders(spark, sf_dir)
    t.commit(orders, "o_orderkey")
    man = t.manifest()
    assert sum(f["rows"] for f in man["files"]) == orders.count()
    lo = min(f["key_min"] for f in man["files"])
    hi = max(f["key_max"] for f in man["files"])
    row = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    assert (lo, hi) == (row[0], row[1])


def test_incremental_mv_reads_only_commit_deltas(spark, sf_dir, tmp_path):
    """new_files_in(v) must return exactly the files commit v added;
    summing partial aggregates over the deltas must equal the full
    table aggregate (the MV refresh invariant)."""
    from cortana_intelligence_customer360_spark.sources.lakehouse import (
        ManifestTable,
        new_files_in,
    )

    t = ManifestTable(str(tmp_path / "t"))
    orders = load_table(spark, sf_dir, "orders")
    for m in (0, 1, 2):
        t.commit(orders.where(F.col("o_orderkey") % 3 == m), "o_orderkey")
    all_paths = {f["path"] for f in t.manifest()["files"]}
    deltas = [new_files_in(t, v) for v in range(3)]
    delta_paths = [p["path"] for d in deltas for p in d]
    assert sorted(delta_paths) == sorted(all_paths)  # disjoint + complete
    assert len(set(delta_paths)) == len(delta_paths)
    n = sum(
        spark.read.parquet(*[f["path"] for f in d]).count() for d in deltas
    )
    assert n == orders.count()


def test_compact_shrinks_files_and_vacuum_respects_horizon(spark, sf_dir, tmp_path):
    from cortana_intelligence_customer360_spark.sources.lakehouse import (
        ManifestTable,
        compact,
        vacuum,
    )

    t = ManifestTable(str(tmp_path / "t"))
    orders = load_table(spark, sf_dir, "orders")
    for m in (0, 1, 2):
        t.commit(
            orders.where(F.col("o_orderkey") % 3 == m).repartition(8),
            "o_orderkey",
        )
    n_before = len(t.select_files())
    n_rows = t.read(spark).count()
    v = compact(t, spark, 4)
    assert v == 3
    assert len(t.select_files()) < n_before
    assert t.read(spark).count() == n_rows
    # pre-compaction version still time-travels before vacuum
    assert t.read(spark, version=2).count() == n_rows
    stats = vacuum(t, keep_last=1)
    assert stats["removed"] > 0
    # live table intact after vacuum; old exclusive files are gone
    assert t.read(spark).count() == n_rows
    import pytest as _pytest

    with _pytest.raises(Exception):
        t.read(spark, version=0).count()


def test_deletion_vectors_leave_data_files_untouched(spark, sf_dir):
    """The delete writes ONLY the DV side table: data file set, sizes,
    and mtimes are identical before/after, and the merge-on-read view
    removes exactly the predicate rows."""
    import os

    from pyspark.sql import functions as F

    from cortana_intelligence_customer360_spark.sources import lakehouse as lh

    t = lh._build_dv_table(spark, sf_dir, "test_dv_untouched")

    def snapshot(root):
        out = {}
        for dirpath, _, names in os.walk(os.path.join(root, "data")):
            for n in names:
                p = os.path.join(dirpath, n)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = snapshot(t.root)
    n_before = t.read(spark).count()
    pred = (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 7 == 0)
    n_del = t.read(spark).where(pred).count()
    assert n_del > 0, "fixture must delete something"
    dv_dir = lh.write_deletion_vector(t, spark, pred)
    assert snapshot(t.root) == before
    live = lh.read_with_deletion_vectors(t, spark, dv_dir)
    assert live.count() == n_before - n_del
    assert live.where(pred).count() == 0
    # columns restored (no metadata leakage into the logical schema)
    assert set(live.columns) == set(t.read(spark).columns)


def test_write_audit_publish_blocks_bad_batch(spark, sf_dir):
    """A staged batch failing audit must stay invisible: the published
    snapshot before and after the failed stage is identical, the
    staged version IS readable by explicit version (debugging), and
    the audit reports the planted violations."""
    from pyspark.sql import functions as F

    from cortana_intelligence_customer360_spark.sources import lakehouse as lh
    from cortana_intelligence_customer360_spark.sources.derived import scratch_dir
    from cortana_intelligence_customer360_spark.sources.tables import load_table

    root = scratch_dir("test_wap", sf_dir)
    import os
    import shutil

    if os.path.isdir(root):
        shutil.rmtree(root)
    t = lh.ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders")
    lh.publish(t, lh.stage_commit(t, orders, "o_orderkey"))
    published_before = t.latest_version()
    n_before = t.read(spark).count()

    bad = orders.limit(10).withColumn(
        "o_totalprice", F.col("o_totalprice") * -1
    )
    v_bad = lh.stage_commit(t, bad, "o_orderkey")
    audit = lh.audit_snapshot(spark, t, v_bad)
    assert audit["bad_prices"] == 10 and audit["dup_keys"] == 10
    # NOT published: pointer unmoved, published read unchanged
    assert t.latest_version() == published_before
    assert t.read(spark).count() == n_before
    # staged snapshot still debuggable by explicit version
    assert t.read(spark, version=v_bad).count() == n_before + 10
