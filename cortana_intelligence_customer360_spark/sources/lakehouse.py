"""Minimal manifest-based table format (lakehouse mechanics from
scratch, no Delta/Iceberg libs — none exist in this container, and the
POINT is to show the mechanics are just parquet + atomic metadata):

- every commit writes NEW immutable parquet files under its own
  ``data/commit-{v}/`` directory (append never rewrites history);
- a JSON manifest per version lists the table's files WITH per-file
  row counts and key min/max (collected DISTRIBUTEDLY via a
  groupBy(input_file_name()) pass, not a driver footer walk);
- ``_latest`` is swapped with os.replace — the atomic pointer flip
  that gives readers snapshot isolation: a reader that grabbed
  version N keeps a consistent file list no matter how many commits
  land after it, because files are immutable and manifests are never
  edited in place;
- reads can time-travel (explicit version) and prune files whose
  [min,max] key range cannot intersect the query predicate — the
  data-skipping half of a table format, demonstrated without touching
  the skipped files at all.

At 100 TB the data path here is exactly the production shape (parquet
writes + one metadata aggregate per commit); the manifest itself is
O(files) JSON — the component real formats scale with avro manifests
and snapshot logs, which is a serialization detail, not a dataflow one.

Reference parity note: the reference checkout is empty (SURVEY.md §0);
this module covers the SURVEY §2.12 lakehouse boundary that
operators/merge.py (MERGE/SCD2/CDC on plain parquet dirs) left open.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compat import bcount, dsum, dsum_sql
from .derived import scratch_dir
from .tables import load_table


class ManifestTable:
    """A parquet table with JSON manifests and an atomic latest-pointer."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.manifest_dir = os.path.join(root, "_manifests")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- metadata ----------------------------------------------------------

    def _latest_path(self) -> str:
        return os.path.join(self.manifest_dir, "_latest")

    def latest_version(self) -> int | None:
        try:
            with open(self._latest_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def manifest(self, version: int | None = None) -> dict:
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"{self.root}: no committed version")
        with open(os.path.join(self.manifest_dir, f"v{version}.json")) as f:
            return json.load(f)

    def _write_atomic(self, path: str, payload: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(payload)
        os.replace(tmp, path)  # atomic on POSIX: readers see old or new

    # -- write path --------------------------------------------------------

    def commit(
        self, df: DataFrame, key_col: str, mode: str = "append"
    ) -> int:
        """Write ``df`` as a new immutable commit and publish it.

        ``mode='append'`` carries the parent manifest's files forward;
        ``mode='overwrite'`` starts the file list fresh (history stays
        readable through older manifests — nothing is deleted).
        """
        if mode not in ("append", "overwrite"):
            raise ValueError(f"unknown commit mode {mode!r}")
        parent = self.latest_version()
        version = 0 if parent is None else parent + 1
        commit_dir = os.path.join(self.data_dir, f"commit-{version:05d}")
        df.write.mode("overwrite").parquet(commit_dir)
        # Per-file stats: a distributed metadata aggregate over the
        # files just written (the stats a real writer embeds inline).
        spark = df.sparkSession
        stats = (
            spark.read.parquet(commit_dir)
            .groupBy(F.input_file_name().alias("path"))
            .agg(
                bcount().alias("rows"),
                F.min(key_col).alias("key_min"),
                F.max(key_col).alias("key_max"),
            )
            .collect()
        )
        new_files = sorted(
            (
                {
                    "path": r["path"].replace("file:", "", 1),
                    "rows": r["rows"],
                    "key_min": r["key_min"],
                    "key_max": r["key_max"],
                }
                for r in stats
            ),
            key=lambda e: e["path"],
        )
        if mode == "overwrite" or parent is None:
            files = new_files
        else:
            files = list(self.manifest(parent)["files"]) + new_files
        payload = json.dumps(
            {
                "version": version,
                "parent": parent,
                "key_col": key_col,
                "files": files,
            },
            indent=1,
        )
        self._write_atomic(
            os.path.join(self.manifest_dir, f"v{version}.json"), payload
        )
        self._write_atomic(self._latest_path(), str(version))
        return version

    # -- read path ---------------------------------------------------------

    def select_files(
        self,
        version: int | None = None,
        key_min: int | None = None,
        key_max: int | None = None,
    ) -> list[dict]:
        """The manifest's file list, pruned to entries whose [min,max]
        stats can intersect [key_min, key_max] — pure metadata, the
        skipped files are never opened."""
        files = self.manifest(version)["files"]
        # Files whose key column was entirely NULL carry null stats:
        # non-prunable, always kept (the row-level predicate in read()
        # still applies) — same contract as real format data skipping.
        if key_min is not None:
            files = [
                f for f in files
                if f["key_max"] is None or f["key_max"] >= key_min
            ]
        if key_max is not None:
            files = [
                f for f in files
                if f["key_min"] is None or f["key_min"] <= key_max
            ]
        return files

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        key_min: int | None = None,
        key_max: int | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        # Pin the snapshot ONCE: with version=None, resolving the
        # latest pointer separately for select_files and the key_col
        # lookup could straddle a concurrent commit and mix file list
        # and key_col from different snapshots.
        if version is None:
            version = self.latest_version()
        files = self.select_files(version, key_min, key_max)
        if not files:
            raise FileNotFoundError("no files survive pruning")
        reader = spark.read
        if merge_schema:
            # Schema evolution: commits may add columns; mergeSchema
            # unions the parquet footers (per-file schema reconcile is
            # distributed) and files lacking a column surface NULLs.
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(*[f["path"] for f in files])
        # The manifest prunes FILES; rows inside surviving files still
        # need the predicate (same contract as any data-skipping scan).
        key = self.manifest(version)["key_col"]
        if key_min is not None:
            df = df.where(F.col(key) >= key_min)
        if key_max is not None:
            df = df.where(F.col(key) <= key_max)
        return df


# -- registered queries -----------------------------------------------------


def _build_orders_table(spark: SparkSession, sf_dir: str, qid: str) -> ManifestTable:
    """Deterministic 3-commit table: append orderkey%3==0, append %3==1,
    then OVERWRITE with the non-'F' subset. Rebuilt fresh per call so
    the query is idempotent under driver re-runs."""
    root = scratch_dir(qid, sf_dir)
    if os.path.isdir(root):
        shutil.rmtree(root)
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders")
    t.commit(orders.where(F.col("o_orderkey") % 3 == 0), "o_orderkey")
    t.commit(orders.where(F.col("o_orderkey") % 3 == 1), "o_orderkey")
    t.commit(
        orders.where(F.col("o_orderstatus") != "F"),
        "o_orderkey",
        mode="overwrite",
    )
    return t


def lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-isolated time travel over the 3-commit table: one
    result row per version with its row count and DECIMAL-exact price
    sum — version 0 and 1 must still read exactly as committed after
    the later overwrite replaced the live file list."""
    t = _build_orders_table(spark, sf_dir, "lake_time_travel")
    frames = []
    for v in (0, 1, 2):
        frames.append(
            t.read(spark, version=v).agg(
                F.lit(v).cast("long").alias("version"),
                bcount().alias("n_rows"),
                dsum("o_totalprice").alias("sum_price"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.select("version", "n_rows", "sum_price")


_TIME_TRAVEL_SQL = f"""
SELECT CAST(0 AS BIGINT) AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
       {dsum_sql('o_totalprice')} AS sum_price
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT CAST(1 AS BIGINT), CAST(COUNT(*) AS BIGINT),
       {dsum_sql('o_totalprice')}
FROM orders WHERE o_orderkey % 3 IN (0, 1)
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
       {dsum_sql('o_totalprice')}
FROM orders WHERE o_orderstatus <> 'F'
"""


_PRUNE_PARTS = 8


def _build_ranged_table(spark: SparkSession, sf_dir: str, qid: str) -> ManifestTable:
    root = scratch_dir(qid, sf_dir)
    if os.path.isdir(root):
        shutil.rmtree(root)
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders")
    t.commit(
        orders.repartitionByRange(_PRUNE_PARTS, "o_orderkey"), "o_orderkey"
    )
    return t


def lake_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-based file skipping: the table is laid out in key ranges,
    and a [max/4, max/2] key-range read selects files by manifest
    min/max BEFORE opening anything (tests assert strictly fewer files
    than the table holds are touched). The aggregate result is
    layout-independent, so the oracle is a plain filtered aggregate."""
    t = _build_ranged_table(spark, sf_dir, "lake_pruned_scan")
    mx = load_table(spark, sf_dir, "orders").agg(F.max("o_orderkey")).collect()[0][0]
    lo, hi = mx // 4, mx // 2
    return t.read(spark, key_min=lo, key_max=hi).agg(
        bcount().alias("n_rows"),
        dsum("o_totalprice").alias("sum_price"),
        F.min("o_orderkey").alias("first_key"),
        F.max("o_orderkey").alias("last_key"),
    )


_PRUNED_SCAN_SQL = f"""
WITH b AS (
  SELECT MAX(o_orderkey) // 4 AS lo, MAX(o_orderkey) // 2 AS hi FROM orders)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       {dsum_sql('o_totalprice')} AS sum_price,
       MIN(o_orderkey) AS first_key,
       MAX(o_orderkey) AS last_key
FROM orders, b
WHERE o_orderkey >= lo AND o_orderkey <= hi
"""


def new_files_in(t: ManifestTable, version: int) -> list[dict]:
    """The files ADDED by ``version`` relative to its parent — the
    append delta, straight from manifest set difference (pure
    metadata)."""
    cur = {f["path"]: f for f in t.manifest(version)["files"]}
    parent = t.manifest(version)["parent"]
    if parent is None:
        return list(cur.values())
    prev = {f["path"] for f in t.manifest(parent)["files"]}
    return [f for p, f in cur.items() if p not in prev]


def lake_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance ON the table format:
    the per-status revenue MV refreshes from version to version by
    aggregating ONLY each commit's new files (the manifest set-diff is
    the change feed — no CDC column, no full-table re-read) and
    merging partial aggregates exactly (counts add; sums in DECIMAL).
    At 100 TB this is the difference between touching one commit's
    files and re-scanning years of history per refresh. The oracle is
    the from-scratch aggregate — the MV invariant."""
    qid = "lake_incremental_mv"
    root = scratch_dir(qid, sf_dir)
    if os.path.isdir(root):
        shutil.rmtree(root)
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders")
    for m in (0, 1, 2):
        t.commit(orders.where(F.col("o_orderkey") % 3 == m), "o_orderkey")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            bcount().alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("decimal(30,6)")
            .alias("sum_dec"),
        )

    mv = None
    for v in range(t.latest_version() + 1):
        delta_paths = [f["path"] for f in new_files_in(t, v)]
        delta = partial(spark.read.parquet(*delta_paths))
        if mv is None:
            mv = delta
        else:
            mv = (
                mv.unionByName(delta)
                .groupBy("o_orderstatus")
                .agg(
                    F.sum("n_orders").cast("long").alias("n_orders"),
                    F.sum("sum_dec").cast("decimal(30,6)").alias("sum_dec"),
                )
            )
    return mv.select(
        "o_orderstatus",
        "n_orders",
        F.col("sum_dec").cast("double").alias("sum_price"),
    )


_INCREMENTAL_MV_SQL = f"""
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_price
FROM orders GROUP BY o_orderstatus
"""


def compact(t: ManifestTable, spark: SparkSession, n_files: int) -> int:
    """Compaction commit: rewrite the CURRENT file list into ``n_files``
    via one repartitionByRange on the key (keeps min/max stats tight for
    the pruned-read path) and publish as an overwrite version. History
    stays readable — compaction is just another immutable commit, which
    is exactly how lakehouse OPTIMIZE works."""
    key = t.manifest()["key_col"]
    cur = t.read(spark).repartitionByRange(n_files, key)
    return t.commit(cur, key, mode="overwrite")


def vacuum(t: ManifestTable, keep_last: int = 1) -> dict:
    """Remove data files no manifest in the kept window references.
    Keeps the last ``keep_last`` versions' files (a file referenced by
    ANY kept version is never touched); older manifests remain as
    metadata but their exclusive files are gone — the standard
    retention trade (VACUUM breaks time travel past the horizon, never
    the live table)."""
    latest = t.latest_version()
    if latest is None:
        return {"removed": 0, "kept": 0}
    keep_versions = range(max(0, latest - keep_last + 1), latest + 1)
    keep_files = {
        f["path"] for v in keep_versions for f in t.manifest(v)["files"]
    }
    all_files = {
        f["path"]
        for v in range(latest + 1)
        for f in t.manifest(v)["files"]
    }
    removed = 0
    for p in sorted(all_files - keep_files):
        try:
            os.remove(p)
            removed += 1
        except FileNotFoundError:
            pass
    return {"removed": removed, "kept": len(keep_files)}


def lake_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE on the table format: three small append commits
    fragment the table, a compaction commit rewrites the live file list
    into 4 range-partitioned files (fewer files, tight per-file key
    stats), and the result aggregate proves bit-identical content. The
    file-count drop and pre-compaction time travel are pinned in
    tests/test_lakehouse.py."""
    qid = "lake_compact"
    root = scratch_dir(qid, sf_dir)
    if os.path.isdir(root):
        shutil.rmtree(root)
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders")
    for m in (0, 1, 2):
        t.commit(
            orders.where(F.col("o_orderkey") % 3 == m).repartition(8),
            "o_orderkey",
        )
    compact(t, spark, 4)
    back = t.read(spark)
    return back.groupBy("o_orderstatus").agg(
        bcount().alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


_LAKE_COMPACT_SQL = f"""
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_price,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
FROM orders GROUP BY o_orderstatus
"""


def lake_sketch_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained DISTINCT-COUNT view on the table
    format: distinct users per event_type is the aggregate you CANNOT
    refresh by adding partials (distincts don't sum) — the canonical
    reason 100 TB pipelines persist mergeable sketches next to the
    table. Each append commit's delta files (manifest set-diff change
    feed, as lake_incremental_mv) fold into an HLL register table by
    bucketwise max-merge; no refresh ever re-reads history. Register
    max-merge is associative/commutative/idempotent, so the maintained
    registers are BIT-IDENTICAL to the one-shot batch sketch and the
    view carries agg_hll_custom's FULL oracle."""
    from ..operators.sketches import hll_output, registers_from

    qid = "lake_sketch_mv"
    root = scratch_dir(qid, sf_dir)
    if os.path.isdir(root):
        shutil.rmtree(root)
    t = ManifestTable(root)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    for m in (0, 1, 2):
        t.commit(ev.where(F.col("event_id") % 3 == m), "event_id")
    regs = None
    for v in range(t.latest_version() + 1):
        delta_paths = [f["path"] for f in new_files_in(t, v)]
        delta = registers_from(
            spark.read.parquet(*delta_paths).select("event_type", "user_id")
        )
        if regs is None:
            regs = delta
        else:
            regs = (
                regs.unionByName(delta)
                .groupBy("event_type", "bucket")
                .agg(F.max("reg").cast("int").alias("reg"))
            )
    return hll_output(regs)


def lake_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention VACUUM as a first-class operation: fragment the table
    with three append commits, compact (an overwrite commit — every
    pre-compaction file becomes historical), then vacuum with
    keep_last=1 and PROVE both halves of the retention contract in the
    output: the live table reads bit-identically (the orders aggregate
    the oracle recomputes from source), while time travel past the
    horizon is physically gone (reading version 0 now fails because its
    exclusive files were deleted). files_removed>0 / old_unreadable are
    deterministic booleans — compaction rewrites the complete live set,
    so every older file is always exclusive-to-history.

    Scale posture: vacuum is pure manifest metadata (set difference of
    file lists) plus unlink syscalls — file-count work on the driver,
    exactly how real table formats implement it; no data is read."""
    qid = "lake_vacuum"
    root = scratch_dir(qid, sf_dir)
    if os.path.isdir(root):
        shutil.rmtree(root)
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders")
    for m in (0, 1, 2):
        t.commit(
            orders.where(F.col("o_orderkey") % 3 == m).repartition(4),
            "o_orderkey",
        )
    compact(t, spark, 4)
    stats = vacuum(t, keep_last=1)
    # Physical check (a read attempt would also fail, pinned in
    # tests/test_round4b.py — doing it here would spray an async
    # AnalysisException through any registered QueryExecutionListener).
    old_unreadable = any(
        not os.path.exists(f["path"]) for f in t.manifest(0)["files"]
    )
    back = t.read(spark)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            bcount().alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .withColumn("files_removed_some", F.lit(stats["removed"] > 0))
        .withColumn("old_unreadable", F.lit(old_unreadable))
    )


_LAKE_VACUUM_SQL = f"""
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_price,
       TRUE AS files_removed_some, TRUE AS old_unreadable
FROM orders GROUP BY o_orderstatus
"""


QUERIES = {
    "lake_time_travel": lake_time_travel,
    "lake_pruned_scan": lake_pruned_scan,
    "lake_incremental_mv": lake_incremental_mv,
    "lake_compact": lake_compact,
    "lake_vacuum": lake_vacuum,
    "lake_sketch_mv": lake_sketch_mv,
}


def _lake_sketch_mv_sql() -> str:
    from ..operators.sketches import _hll_sql

    return _hll_sql()


ORACLE = {
    "lake_vacuum": _LAKE_VACUUM_SQL,
    "lake_sketch_mv": _lake_sketch_mv_sql(),
    "lake_time_travel": _TIME_TRAVEL_SQL,
    "lake_pruned_scan": _PRUNED_SCAN_SQL,
    "lake_incremental_mv": _INCREMENTAL_MV_SQL,
    "lake_compact": _LAKE_COMPACT_SQL,
}


# ---------------------------------------------------------------------------
# Schema evolution (round 4): a later commit ADDS a column; reads of
# the latest snapshot reconcile per-file schemas, older files surface
# NULL for the new column, and time travel to v0 still returns the
# original narrow schema.


def lake_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-commit table where commit 1 adds ``o_orderpriority``:
    v0 = even orderkeys as (key, price), v1 appends odd orderkeys as
    (key, price, priority). The latest read (mergeSchema) groups by the
    evolved column — pre-evolution rows land in the NULL group — and a
    v0 time-travel read proves the narrow schema is untouched (its
    column count is emitted as a result row).

    Scale: schema reconcile is a footer-only concern (mergeSchema runs
    a distributed footer merge, no data read); the data pass is one
    aggregate over the unioned files."""
    root = scratch_dir("lake_schema_evolution", sf_dir)
    if os.path.isdir(root):
        shutil.rmtree(root)
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders")
    t.commit(
        orders.where(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice"),
        "o_orderkey",
    )
    t.commit(
        orders.where(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ),
        "o_orderkey",
    )
    evolved = t.read(spark, merge_schema=True)
    agg = evolved.groupBy(
        F.coalesce(F.col("o_orderpriority"), F.lit("<pre-evolution>")).alias("priority")
    ).agg(bcount().alias("n_rows"), dsum("o_totalprice").alias("sum_price"))
    v0_cols = len(t.read(spark, version=0).columns)
    return agg.unionByName(
        spark.range(1).select(
            F.lit("<v0-column-count>").alias("priority"),
            F.lit(v0_cols).cast("long").alias("n_rows"),
            F.lit(0.0).alias("sum_price"),
        )
    )


_SCHEMA_EVOLUTION_SQL = f"""
SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
            ELSE '<pre-evolution>' END AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {dsum_sql('o_totalprice')} AS sum_price
FROM orders GROUP BY 1
UNION ALL
SELECT '<v0-column-count>', CAST(2 AS BIGINT), 0.0
"""

QUERIES["lake_schema_evolution"] = lake_schema_evolution
ORACLE["lake_schema_evolution"] = _SCHEMA_EVOLUTION_SQL


# ---------------------------------------------------------------------------
# Deletion vectors (round 5): row-level DELETE without rewriting a
# single data file — the merge-on-read mechanism Iceberg v2 position
# deletes / Delta deletion vectors standardize. The delete pass scans
# once with the hidden parquet ``_metadata`` column and writes a tiny
# (file_path, row_index) side table; every subsequent read anti-joins
# the positions back out. At 100 TB the DV side is deleted-rows-sized
# and BROADCASTS — the fact scan never shuffles, and the files of a
# petabyte table are untouched by a delete that hits 1% of rows
# (tests pin the file set + mtimes unchanged). Compaction
# (lake_compact) is the copy-on-write escape hatch when DVs pile up.


def _build_dv_table(spark: SparkSession, sf_dir: str, qid: str):
    root = scratch_dir(qid, sf_dir)
    if os.path.isdir(root):
        shutil.rmtree(root)
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders")
    t.commit(orders.where(F.col("o_orderkey") % 3 != 2), "o_orderkey")
    t.commit(orders.where(F.col("o_orderkey") % 3 == 2), "o_orderkey")
    return t


def write_deletion_vector(
    t: ManifestTable, spark: SparkSession, predicate
) -> str:
    """One scan with ``_metadata`` projects the positions of rows
    matching ``predicate`` into a side parquet — no data file is
    opened for write. Returns the DV directory."""
    dv_dir = os.path.join(t.root, "deletes", "dv-00000")
    df = t.read(spark)
    positions = df.where(predicate).select(
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.row_index").alias("row_index"),
    )
    positions.write.mode("overwrite").parquet(dv_dir)
    return dv_dir


def read_with_deletion_vectors(
    t: ManifestTable, spark: SparkSession, dv_dir: str
) -> DataFrame:
    """Merge-on-read: anti-join the broadcast DV positions against the
    scan's own (file_path, row_index) identity."""
    dv = spark.read.parquet(dv_dir)
    df = t.read(spark).withColumns(
        {
            "file_path": F.col("_metadata.file_path"),
            "row_index": F.col("_metadata.row_index"),
        }
    )
    return df.join(
        F.broadcast(dv), ["file_path", "row_index"], "left_anti"
    ).drop("file_path", "row_index")


def lake_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE WHERE o_orderstatus = 'F' AND o_orderkey % 7 = 0 as a
    position-delete vector, then an aggregate over the merge-on-read
    view; the data files are byte-identical before and after (pinned
    in tests/test_lakehouse.py)."""
    t = _build_dv_table(spark, sf_dir, "lake_deletion_vectors")
    pred = (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 7 == 0)
    dv_dir = write_deletion_vector(t, spark, pred)
    live = read_with_deletion_vectors(t, spark, dv_dir)
    return live.groupBy("o_orderstatus").agg(
        bcount().alias("n_orders"), dsum("o_totalprice").alias("revenue")
    )


_DV_SQL = f"""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {dsum_sql('o_totalprice')} AS revenue
FROM orders
WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0)
GROUP BY 1
"""

QUERIES["lake_deletion_vectors"] = lake_deletion_vectors
ORACLE["lake_deletion_vectors"] = _DV_SQL


# ---------------------------------------------------------------------------
# Write-Audit-Publish (round 5): the staging workflow real lakehouse
# deployments run (Iceberg's WAP pattern) — a commit's files and
# manifest are fully written BEFORE the latest-pointer flips, a DQ
# audit runs against the staged snapshot, and only a passing audit
# publishes (one atomic pointer swap). A failing batch leaves the
# published table bit-identical: readers can never observe unaudited
# data, and the failed stage remains on disk for debugging.


def stage_commit(t: ManifestTable, df: DataFrame, key_col: str) -> int:
    """ManifestTable.commit minus the pointer flip: writes the data
    files and the version manifest, returns the staged version. The
    staged snapshot is readable via read(version=...) but invisible to
    latest-pointer readers until publish()."""
    parent = t.latest_version()
    version = 0 if parent is None else parent + 1
    commit_dir = os.path.join(t.data_dir, f"commit-{version:05d}")
    df.write.mode("overwrite").parquet(commit_dir)
    spark = df.sparkSession
    stats = (
        spark.read.parquet(commit_dir)
        .groupBy(F.input_file_name().alias("path"))
        .agg(
            bcount().alias("rows"),
            F.min(key_col).alias("key_min"),
            F.max(key_col).alias("key_max"),
        )
        .collect()
    )
    new_files = sorted(
        (
            {
                "path": r["path"].replace("file:", "", 1),
                "rows": r["rows"],
                "key_min": r["key_min"],
                "key_max": r["key_max"],
            }
            for r in stats
        ),
        key=lambda e: e["path"],
    )
    files = (
        new_files
        if parent is None
        else list(t.manifest(parent)["files"]) + new_files
    )
    payload = json.dumps(
        {"version": version, "parent": parent, "key_col": key_col, "files": files},
        indent=1,
    )
    t._write_atomic(os.path.join(t.manifest_dir, f"v{version}.json"), payload)
    return version


def publish(t: ManifestTable, version: int) -> None:
    """The atomic pointer flip — the ONLY mutation publish performs."""
    t._write_atomic(t._latest_path(), str(version))


def audit_snapshot(spark: SparkSession, t: ManifestTable, version: int) -> dict:
    """DQ audit over the STAGED snapshot: key non-null, price positive,
    no duplicate keys. Returns per-rule violation counts (one scan)."""
    df = t.read(spark, version=version)
    row = df.agg(
        F.sum(F.col("o_orderkey").isNull().cast("long")).alias("null_keys"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("bad_prices"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("dup_keys"),
    ).collect()[0]
    return {
        "null_keys": int(row.null_keys or 0),
        "bad_prices": int(row.bad_prices or 0),
        "dup_keys": int(row.dup_keys or 0),
    }


def lake_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base commit publishes; a GOOD staged batch passes audit and
    publishes; a BAD staged batch (corrupted negative prices AND
    duplicate keys) fails audit and is never published. Result: the
    published table equals base+good exactly — the bad rows are
    physically on disk but unreachable through the latest pointer.
    The staged-vs-published divergence is pinned in
    tests/test_lakehouse.py; this query aggregates the published view,
    so the oracle is the clean orders table."""
    root = scratch_dir("lake_write_audit_publish", sf_dir)
    if os.path.isdir(root):
        shutil.rmtree(root)
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders")
    publish(t, stage_commit(t, orders.where(F.col("o_orderkey") % 2 == 0), "o_orderkey"))

    good = orders.where(F.col("o_orderkey") % 2 == 1)
    v_good = stage_commit(t, good, "o_orderkey")
    if sum(audit_snapshot(spark, t, v_good).values()) == 0:
        publish(t, v_good)

    bad = orders.limit(50).select(
        "o_orderkey",  # duplicates of already-committed keys
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        (F.col("o_totalprice") * -1).alias("o_totalprice"),
        *[c for c in orders.columns if c not in
          ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")],
    )
    v_bad = stage_commit(t, bad, "o_orderkey")
    if sum(audit_snapshot(spark, t, v_bad).values()) == 0:  # never true
        publish(t, v_bad)

    live = t.read(spark)
    return live.groupBy("o_orderstatus").agg(
        bcount().alias("n_orders"), dsum("o_totalprice").alias("revenue")
    )


_WAP_SQL = f"""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {dsum_sql('o_totalprice')} AS revenue
FROM orders
GROUP BY 1
"""

QUERIES["lake_write_audit_publish"] = lake_write_audit_publish
ORACLE["lake_write_audit_publish"] = _WAP_SQL


# ---------------------------------------------------------------------------
# Partition-scheme evolution (round 5): the table's OLD data stays in
# its original layout (partitioned by o_orderstatus) while NEW commits
# land in a different one (partitioned by o_orderpriority) — no
# rewrite of history, which at 100 TB is the only affordable way to
# change a partition scheme (Iceberg's partition evolution contract).
# Each layout keeps its own pruning: a status predicate prunes
# directories in the old layout and row-filters the new one, and vice
# versa; the logical table is the by-name union of per-layout reads
# (basePath restores each layout's partition column).


def lake_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = scratch_dir("lake_partition_evolution", sf_dir)
    if os.path.isdir(root):
        shutil.rmtree(root)
    orders = load_table(spark, sf_dir, "orders")
    old_dir = os.path.join(root, "commit-0")
    new_dir = os.path.join(root, "commit-1")
    orders.where(F.col("o_orderkey") % 2 == 0).write.partitionBy(
        "o_orderstatus"
    ).parquet(old_dir)
    orders.where(F.col("o_orderkey") % 2 == 1).write.partitionBy(
        "o_orderpriority"
    ).parquet(new_dir)
    d0 = spark.read.option("basePath", old_dir).parquet(old_dir)
    d1 = spark.read.option("basePath", new_dir).parquet(new_dir)
    full = d0.unionByName(d1)
    return full.groupBy("o_orderstatus", "o_orderpriority").agg(
        bcount().alias("n_orders"), dsum("o_totalprice").alias("revenue")
    )


_PARTITION_EVOLUTION_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {dsum_sql('o_totalprice')} AS revenue
FROM orders
GROUP BY 1, 2
"""

QUERIES["lake_partition_evolution"] = lake_partition_evolution
ORACLE["lake_partition_evolution"] = _PARTITION_EVOLUTION_SQL


# -- change data feed (round 6) ---------------------------------------------


def lake_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED between consecutive versions, derived purely
    from the MANIFEST DIFF: files present in v_b but not v_a are the
    version's inserts, files dropped (an overwrite) are its deletes.
    Only the changed files are ever opened — the unchanged table body
    costs nothing, which is the property that makes CDF usable at
    100 TB (a feed reader must not scan history to learn what moved).

    Over the standard 3-commit fixture the feed is fully determined:
    v0→v1 inserts the %3==1 append; v1→v2 (the overwrite) deletes both
    appended subsets and re-inserts the non-'F' snapshot. Emitted as
    per-transition aggregates (rows + DECIMAL-exact price sum) so the
    oracle pins the row content, not file layout."""
    t = _build_orders_table(spark, sf_dir, "lake_change_feed")

    def _feed(va: int, vb: int) -> list[DataFrame]:
        fa = {f["path"] for f in t.manifest(va)["files"]}
        fb = {f["path"] for f in t.manifest(vb)["files"]}
        out = []
        for paths, kind in ((sorted(fb - fa), "insert"), (sorted(fa - fb), "delete")):
            if paths:
                out.append(
                    spark.read.parquet(*paths).agg(
                        F.lit(va).cast("long").alias("from_v"),
                        F.lit(vb).cast("long").alias("to_v"),
                        F.lit(kind).alias("change_type"),
                        bcount().alias("n_rows"),
                        dsum("o_totalprice").alias("sum_price"),
                    )
                )
        return out

    frames = _feed(0, 1) + _feed(1, 2)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.select("from_v", "to_v", "change_type", "n_rows", "sum_price")


_CHANGE_FEED_SQL = f"""
SELECT CAST(0 AS BIGINT) AS from_v, CAST(1 AS BIGINT) AS to_v,
       'insert' AS change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       {dsum_sql('o_totalprice')} AS sum_price
FROM orders WHERE o_orderkey % 3 = 1
UNION ALL
SELECT 1, 2, 'insert', CAST(COUNT(*) AS BIGINT), {dsum_sql('o_totalprice')}
FROM orders WHERE o_orderstatus <> 'F'
UNION ALL
SELECT 1, 2, 'delete', CAST(COUNT(*) AS BIGINT), {dsum_sql('o_totalprice')}
FROM orders WHERE o_orderkey % 3 IN (0, 1)
"""

QUERIES["lake_change_feed"] = lake_change_feed
ORACLE["lake_change_feed"] = _CHANGE_FEED_SQL


def shallow_clone(
    src: ManifestTable, dst_root: str, version: int | None = None
) -> ManifestTable:
    """Metadata-only clone: the destination's v0 manifest lists the
    SOURCE's immutable data files verbatim — zero bytes of data move
    (Delta SHALLOW CLONE / Iceberg snapshot-ref semantics). Because
    commits never rewrite files in place, the clone stays consistent
    no matter what the source does afterwards, and the clone's own
    commits land under its own root — divergence without interference
    in either direction."""
    if os.path.isdir(dst_root):
        shutil.rmtree(dst_root)
    dst = ManifestTable(dst_root)
    m = src.manifest(version)
    payload = json.dumps(
        {
            "version": 0,
            "parent": None,
            "cloned_from": src.root,
            "cloned_version": m["version"],
            "key_col": m["key_col"],
            "files": list(m["files"]),
        },
        indent=1,
    )
    dst._write_atomic(os.path.join(dst.manifest_dir, "v0.json"), payload)
    dst._write_atomic(dst._latest_path(), "0")
    return dst


def lake_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow-clone lifecycle: clone the 3-commit orders table at its
    head (metadata-only), append the F/1995 subset to the CLONE alone,
    then read the clone back — base rows come from files still owned
    by the source, delta rows from the clone's own commit. Three flag
    columns ride along and each must be 1: the clone's v0 wrote no
    data files, the source manifest is untouched by the clone's
    append, and every clone file lives under exactly one of the two
    roots. At 100 TB a shallow clone is how dev/test/what-if branches
    avoid copying the warehouse."""
    src = _build_orders_table(spark, sf_dir, "lake_shallow_clone_src")
    src_head = src.latest_version()
    src_files_before = [f["path"] for f in src.manifest()["files"]]
    clone = shallow_clone(
        src, scratch_dir("lake_shallow_clone_dst", sf_dir)
    )
    orders = load_table(spark, sf_dir, "orders")
    clone.commit(
        orders.where(
            (F.col("o_orderstatus") == "F")
            & (F.year("o_orderdate") == 1995)
        ),
        "o_orderkey",
    )
    # manifest paths keep the file:-URI's extra slashes — normalize
    # before any prefix comparison
    cfiles = [os.path.normpath(f["path"]) for f in clone.manifest()["files"]]
    shared = [
        p for p in cfiles if p.startswith(os.path.normpath(src.root) + os.sep)
    ]
    own = [
        p
        for p in cfiles
        if p.startswith(os.path.normpath(clone.root) + os.sep)
    ]
    clone_v0_dataless = int(
        not os.path.isdir(os.path.join(clone.data_dir, "commit-00000"))
    )
    src_untouched = int(
        src.latest_version() == src_head
        and [f["path"] for f in src.manifest()["files"]] == src_files_before
    )
    files_partition = int(
        len(shared) == len(src_files_before)
        and len(shared) + len(own) == len(cfiles)
    )
    return (
        clone.read(spark)
        .groupBy("o_orderstatus")
        .agg(bcount().alias("n_rows"), dsum("o_totalprice").alias("sum_price"))
        .withColumn(
            "clone_v0_dataless", F.lit(clone_v0_dataless).cast("long")
        )
        .withColumn("src_untouched", F.lit(src_untouched).cast("long"))
        .withColumn("files_partition", F.lit(files_partition).cast("long"))
        .localCheckpoint()
    )


_SHALLOW_CLONE_SQL = f"""
WITH cl AS (
  SELECT * FROM orders WHERE o_orderstatus <> 'F'
  UNION ALL
  SELECT * FROM orders
  WHERE o_orderstatus = 'F'
    AND year(CAST(o_orderdate AS TIMESTAMP)) = 1995)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {dsum_sql('o_totalprice')} AS sum_price,
       CAST(1 AS BIGINT) AS clone_v0_dataless,
       CAST(1 AS BIGINT) AS src_untouched,
       CAST(1 AS BIGINT) AS files_partition
FROM cl GROUP BY 1
"""

QUERIES["lake_shallow_clone"] = lake_shallow_clone
ORACLE["lake_shallow_clone"] = _SHALLOW_CLONE_SQL
