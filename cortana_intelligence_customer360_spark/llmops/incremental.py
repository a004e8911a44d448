"""Incremental near-dup detection against a PERSISTED minhash band
index — the daily-ingest form of dedup at 100 TB.

``dedup_minhash`` recomputes signatures for the whole corpus each run;
at 100 TB that re-reads and re-shingles history on every ingest. The
incremental form persists the band index ONCE (two lakehouse manifest
tables: slim band rows + signatures, sources/lakehouse.py machinery)
and each ingest:

1. computes signatures for the NEW batch only,
2. unions the new band rows with the stored index rows (compact: B=24
   rows/doc of (doc_id, band, bkey) — no text, no shingles),
3. applies the same per-bucket candidate cap over the COMBINED bucket
   sizes (so capping semantics match a from-scratch run exactly),
4. emits candidate pairs touching at least one new doc — new-vs-history
   and new-vs-new; history-vs-history pairs were already emitted by the
   run that indexed them (standard incremental-view semantics).

Equality contract (the FULL oracle): the output is bit-identical to
recompute-from-scratch ``dedup_minhash`` over the unioned corpus,
restricted to pairs with a new-batch member — DuckDB runs the whole
minhash lattice on all documents and applies the same delta filter.

Scale posture: per ingest, history contributes only an index scan of
O(|history| x B) two-column rows (parquet, column-pruned); history
TEXT is never read — tests/test_plans.py pins that the probe plan
contains the index path and NO documents scan (the new batch's
signatures are materialized before probing, so the probe's only inputs
are the index and a batch-sized signature table).

Reference parity: reference checkout is empty (SURVEY.md §0); this is
VERDICT r3 "What's missing" item 2.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.derived import build_once, scratch_dir
from ..sources.lakehouse import ManifestTable
from ..sources.tables import load_table
from .dedup import (
    _MH_BUCKET_CAP,
    _MH_K,
    JACCARD_THRESHOLD,
    _mh_bands,
    _mh_buckets_sql,
    _mh_sigs,
)

# New-ingest batch = doc_id % _INC_MOD == 0 (~12.5% of the corpus);
# history = the rest. A deterministic split so the oracle can replay it.
_INC_MOD = 8


def _split(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    new = docs.where(F.col("doc_id") % _INC_MOD == 0)
    hist = docs.where(F.col("doc_id") % _INC_MOD != 0)
    return new, hist


def _index_roots(sf_dir: str) -> tuple[str, str]:
    root = scratch_dir("dedup_incremental", sf_dir)
    return os.path.join(root, "bands"), os.path.join(root, "sigs")


def build_band_index(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per input state, see sources/derived.py) the history
    band index: ManifestTable 'bands' = (doc_id, band, bkey) and 'sigs'
    = (doc_id, sig). The cache key covers the signature/banding
    derivation, so an algorithm change rebuilds instead of serving
    stale index rows against a fresh oracle."""
    bands_root, sigs_root = _index_roots(sf_dir)

    def build() -> None:
        _, hist = _split(load_table(spark, sf_dir, "documents"))
        hist_sigs = _mh_sigs(hist).localCheckpoint()
        ManifestTable(sigs_root).commit(hist_sigs, "doc_id")
        ManifestTable(bands_root).commit(
            _mh_bands(hist_sigs).drop("sig"), "doc_id"
        )

    build_once(
        os.path.dirname(bands_root), sf_dir, build,
        _split, _mh_sigs, _mh_bands, (_INC_MOD, _MH_K, _MH_BUCKET_CAP),
    )
    return bands_root, sigs_root


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe the new-doc batch against the persisted band index and
    emit near-dup candidate pairs (est Jaccard >= threshold - 0.1)
    touching at least one new doc — equal, by the full oracle, to
    from-scratch dedup_minhash on the union restricted to such pairs.

    The probe plan reads history ONLY through the index parquet; the
    new batch's signatures are localCheckpoint-materialized first, so
    not even the new documents' text appears in the probe lineage."""
    bands_root, sigs_root = build_band_index(spark, sf_dir)
    new_docs, _ = _split(load_table(spark, sf_dir, "documents"))
    new_sigs = _mh_sigs(new_docs).localCheckpoint()

    hist_bands = ManifestTable(bands_root).read(spark)
    new_bands = _mh_bands(new_sigs).drop("sig")
    all_bands = hist_bands.withColumn("is_new", F.lit(False)).unionByName(
        new_bands.withColumn("is_new", F.lit(True))
    )
    # Same capping lattice as dedup_minhash, over COMBINED bucket sizes.
    w = Window.partitionBy("band", "bkey")
    kept = (
        all_bands.withColumn("bsize", F.count(F.lit(1)).over(w))
        .where(F.col("bsize") <= _MH_BUCKET_CAP)
        .drop("bsize")
    )
    a = kept.select(
        F.col("doc_id").alias("a_id"), "band", "bkey",
        F.col("is_new").alias("a_new"),
    )
    b = kept.select(
        F.col("doc_id").alias("b_id"), "band", "bkey",
        F.col("is_new").alias("b_new"),
    )
    pairs = (
        a.join(b, ["band", "bkey"])
        .where(
            (F.col("a_id") < F.col("b_id"))
            & (F.col("a_new") | F.col("b_new"))
        )
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    sigs = ManifestTable(sigs_root).read(spark).unionByName(new_sigs)
    cand = pairs.join(
        sigs.select(F.col("doc_id").alias("a_id"), F.col("sig").alias("sig_a")),
        "a_id",
    ).join(
        sigs.select(F.col("doc_id").alias("b_id"), F.col("sig").alias("sig_b")),
        "b_id",
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("double") / F.lit(float(_MH_K))
    return cand.select("a_id", "b_id", est.alias("est_jaccard")).where(
        F.col("est_jaccard") >= JACCARD_THRESHOLD - 0.1
    )


def _incremental_sql() -> str:
    """From-scratch minhash over the FULL corpus, restricted to pairs
    with a new-batch member — what the incremental path must equal."""
    return f"""
WITH {_mh_buckets_sql()},
kept AS (
  SELECT * FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band, bkey) AS bsize FROM buckets)
  WHERE bsize <= {_MH_BUCKET_CAP}),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         a.sig AS sig_a, b.sig AS sig_b
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  WHERE a.doc_id % {_INC_MOD} = 0 OR b.doc_id % {_INC_MOD} = 0)
SELECT a_id, b_id,
       CAST(len(list_filter(range({_MH_K}), i -> sig_a[i+1] = sig_b[i+1]))
            AS DOUBLE) / {float(_MH_K)} AS est_jaccard
FROM cand
WHERE CAST(len(list_filter(range({_MH_K}), i -> sig_a[i+1] = sig_b[i+1]))
           AS DOUBLE) / {float(_MH_K)} >= {JACCARD_THRESHOLD - 0.1}
"""


QUERIES = {
    "dedup_incremental": dedup_incremental,
}

ORACLE = {
    "dedup_incremental": _incremental_sql(),
}
