"""Similarity-search operators over the embeddings table (SURVEY.md
§2.9): exact brute-force top-k as the verifiable baseline, bucketed
random-projection LSH as the approximate scale path, per-label centroid
profiles, and the text+vector multimodal join.

Vectors are L2-normalized (FIXTURES.md) so cosine = dot product; dots
are computed with built-in higher-order functions (zip_with +
aggregate: a sequential JVM fold, no Python), rounded to 6 dp on both
engines before any ranking/threshold so float accumulation order can't
flip a comparison.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..compat import bcount
from ..sources.derived import build_once, input_fingerprint, scratch_dir
from ..sources.tables import load_table

N_PROBES = 10  # probe set: vec_id < 10 (bounded so exact stays cheap)
TOP_K = 5

# Persisted ANN index cache (IVF inverted lists + centroid table).
# Keyed by the input fingerprint (sources/derived.py) + k, so a changed
# or regenerated table rebuilds; published atomically (tmp + rename) and shared
# across processes so the driver sweep and bench pay the KMeans fit at
# most once per corpus. Override location via SPARK_GRAFT_ANN_CACHE.
_ANN_CACHE_ROOT = os.environ.get(
    "SPARK_GRAFT_ANN_CACHE",
    os.path.join(tempfile.gettempdir(), "cortana_c360_ann_cache"),
)
_IVF_FIT_SAMPLE = 100_000  # cap rows fed to the KMeans fit (sampled index build)


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def knn_exact_frame(emb: DataFrame, n_probes: int = N_PROBES, k: int = TOP_K) -> DataFrame:
    """Exact cosine top-k for the probe set (vec_id < n_probes):
    broadcast the tiny probe side against the corpus (at 100 TB the
    corpus stays partitioned and never shuffles; only per-probe heaps
    move). Ties break by neighbor id."""
    probes = emb.where(F.col("vec_id") < n_probes).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    pairs = emb.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
    scored = pairs.select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(_dot(F.col("probe_vec"), F.col("embedding")), 6).alias("cosine"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def sim_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_exact_frame(load_table(spark, sf_dir, "embeddings"))


_KNN_SQL = f"""
WITH dots AS (
  -- list_dot_product on the DOUBLE-cast list columns replicates
  -- Spark's F.aggregate left fold bit-exactly (verified: in-order
  -- double accumulation, float32 -> double cast first), instead of
  -- the old unnest-join + bare SUM whose accumulation order DuckDB
  -- doesn't guarantee under parallel hash agg (ADVICE r8). Also
  -- streams per pair row instead of materializing per-pair groups.
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         round(list_dot_product(CAST(p.embedding AS DOUBLE[]),
                                CAST(c.embedding AS DOUBLE[])), 6) AS cosine
  FROM embeddings p JOIN embeddings c ON p.vec_id != c.vec_id
  WHERE p.vec_id < {N_PROBES}),
ranked AS (
  SELECT probe_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
              ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM dots)
SELECT probe_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


def lsh_ann_frame(emb_raw: DataFrame, n_probes: int = N_PROBES) -> DataFrame:
    """Approximate NN via BucketedRandomProjectionLSH for the probe set
    (vec_id < n_probes). Euclidean distance is rank-equivalent to
    cosine on normalized vectors: d² = 2 - 2cos. R-tier: tests assert
    recall@5 >= 0.8 against exact truth, on the driver tables AND on a
    bench-scale planted-neighbor fixture.

    Unlike the IVF quantizer (which clusters data and therefore has a
    persisted index: ivf_build_index), the LSH "fit" only draws seeded
    random hyperplanes - it never scans the corpus, so a per-call fit
    IS the amortized form and there is nothing to persist."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = emb_raw.select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("vec")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="vec", outputCol="buckets", bucketLength=0.5, numHashTables=6, seed=42
    )
    model = lsh.fit(emb)
    probes = emb.where(F.col("vec_id") < n_probes).select(
        F.col("vec_id").alias("probe_id"), F.col("vec").alias("probe_vec")
    )
    # Candidate pairs within distance 1.2 (cos >= 0.28) - generous
    # envelope; exact re-rank of candidates picks the final top-k.
    cand = model.approxSimilarityJoin(
        probes.withColumnRenamed("probe_vec", "vec").withColumnRenamed("probe_id", "vec_id"),
        emb,
        1.2,
        distCol="dist",
    )
    scored = cand.where(F.col("datasetA.vec_id") != F.col("datasetB.vec_id")).select(
        F.col("datasetA.vec_id").alias("probe_id"),
        F.col("datasetB.vec_id").alias("neighbor_id"),
        F.round(1.0 - F.col("dist") * F.col("dist") / 2.0, 6).alias("est_cosine"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("est_cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOP_K)
    )


def sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_ann_frame(load_table(spark, sf_dir, "embeddings"))


def _ivf_index_dir(sf_dir: str, k: int) -> str:
    key = hashlib.md5(f"{input_fingerprint(sf_dir)}|{k}".encode()).hexdigest()[:16]
    return os.path.join(_ANN_CACHE_ROOT, f"ivf_k{k}_{key}")


def ivf_build_index(
    spark: SparkSession, sf_dir: str, k: int = 16, force: bool = False
) -> str:
    """Build (or reuse) the persisted IVF index for the embeddings
    table: a seeded KMeans coarse quantizer assigns every vector to one
    of ``k`` inverted lists; the assigned corpus is written back as
    parquet PARTITIONED BY cell (so a probe's candidate join prunes to
    ~nprobe/k of the files) next to a tiny centroid table.

    Index build is the amortized step: the KMeans fit runs on a bounded
    sample (first _IVF_FIT_SAMPLE rows — at 100 TB you never cluster the
    full corpus, you fit on a sample and assign with one broadcast map
    pass), the corpus is shuffled ONCE on cell here, and queries never
    re-cluster. Returns the index directory; builds are atomic
    (tmp-dir + rename) so concurrent callers can't observe a partial
    index."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    out = _ivf_index_dir(sf_dir, k)
    if os.path.isdir(os.path.join(out, "indexed")) and not force:
        return out
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("vec"),
    )
    km = KMeans(k=k, seed=42, featuresCol="vec", predictionCol="cell")
    model = km.fit(emb.limit(_IVF_FIT_SAMPLE))
    indexed = model.transform(emb).select("vec_id", "embedding", "cell")

    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )
    tmp = f"{out}.tmp-{os.getpid()}"
    indexed.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(tmp, "indexed")
    )
    centroids.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmp, "centroids")
    )
    os.makedirs(_ANN_CACHE_ROOT, exist_ok=True)
    if os.path.isdir(out):
        shutil.rmtree(out, ignore_errors=True)
    try:
        os.rename(tmp, out)
    except OSError:  # lost a race to a concurrent builder; theirs is fine
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def ivf_query_frame(
    indexed: DataFrame,
    centroids: DataFrame,
    nprobe: int = 3,
    n_probes: int = N_PROBES,
) -> DataFrame:
    """Probe path of IVF ANN over a PRE-BUILT index: each probe ranks
    the broadcast centroid table, keeps its nprobe nearest cells, and
    exact-re-ranks only those inverted lists (cell is the partition
    column of the persisted index, so the candidate join touches
    ~nprobe/k of the data). IVF's recall guarantee is for CLUSTERED
    corpora (tests build one); on near-uniform vectors — like this
    repo's synthetic embeddings, whose labels carry no metric signal —
    no partitioning scheme can localize neighbors, which is exactly
    why the operator is R-tier on the driver tables."""
    probes = indexed.where(F.col("vec_id") < n_probes).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    probe_cells = probes.crossJoin(F.broadcast(centroids)).select(
        "probe_id",
        "probe_vec",
        "cell",
        _dot(F.col("probe_vec"), F.col("centroid")).alias("cdot"),
    )
    w_cell = Window.partitionBy("probe_id").orderBy(F.col("cdot").desc(), F.col("cell"))
    nearest_cells = probe_cells.withColumn("crank", F.row_number().over(w_cell)).where(
        F.col("crank") <= nprobe
    )
    # Broadcast the tiny (n_probes*nprobe rows) probe->cell frame so the
    # big indexed corpus never shuffles; cell is the index's partition
    # column, so only the selected inverted lists are scanned.
    cand = indexed.join(
        F.broadcast(nearest_cells.select("probe_id", "probe_vec", "cell")), "cell"
    ).where(F.col("vec_id") != F.col("probe_id"))
    scored = cand.select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(_dot(F.col("probe_vec"), F.col("embedding")), 6).alias("est_cosine"),
    ).dropDuplicates(["probe_id", "neighbor_id"])
    w = Window.partitionBy("probe_id").orderBy(
        F.col("est_cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOP_K)
    )


def fit_ivf_frames(emb: DataFrame, k: int = 16) -> tuple[DataFrame, DataFrame]:
    """In-memory IVF fit for ad-hoc frames (tests' clustered fixtures):
    returns (indexed, centroids). The registered queries use the
    persisted index via ivf_build_index instead."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = emb.sparkSession
    vec = emb.select(
        "vec_id",
        "embedding",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("vec"),
    )
    model = KMeans(k=k, seed=42, featuresCol="vec", predictionCol="cell").fit(
        vec.limit(_IVF_FIT_SAMPLE)
    )
    indexed = model.transform(vec).select("vec_id", "embedding", "cell")
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )
    return indexed, centroids


def ivf_ann_frame(
    emb: DataFrame, k: int = 16, nprobe: int = 3, n_probes: int = N_PROBES
) -> DataFrame:
    """fit_ivf_frames + the probe path, for ad-hoc frames."""
    indexed, centroids = fit_ivf_frames(emb, k=k)
    return ivf_query_frame(indexed, centroids, nprobe=nprobe, n_probes=n_probes)


def _load_ivf_index(spark: SparkSession, sf_dir: str, k: int = 16):
    idx = ivf_build_index(spark, sf_dir, k=k)
    indexed = spark.read.parquet(os.path.join(idx, "indexed"))
    centroids = spark.read.parquet(os.path.join(idx, "centroids"))
    return indexed, centroids


def ann_ivf_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-BUILD step, registered as its own operator: builds the
    persisted IVF index (force=True — the sample-fit coarse quantizer,
    the one cell shuffle, and the partitioned write all run INSIDE the
    timed op; verdict-11 item 5: the old early-return against the
    warm-pass cache made this id time a directory stat, a bench signal
    that could never show a build regression) and reports corpus-level
    facts the oracle can recompute (vector count, dimensionality, list
    count). The probe ops (sim_ivf_ann, ann_ivf_recall_profile) keep
    reading the cache-or-build path, so their amortized-index contract
    is unchanged — the seeded KMeans makes the rebuilt index
    bit-identical to the warm-pass one. Cell populations are model
    output and are exercised by the R-tier recall tests, not this
    oracle."""
    idx = ivf_build_index(spark, sf_dir, force=True)
    indexed = spark.read.parquet(os.path.join(idx, "indexed"))
    centroids = spark.read.parquet(os.path.join(idx, "centroids"))
    counts = indexed.agg(
        bcount().alias("n_vectors"),
        F.min(F.size("embedding")).cast("int").alias("dim"),
    )
    return counts.crossJoin(
        centroids.agg(bcount().alias("n_lists"))
    ).select("n_vectors", "dim", "n_lists")


_ANN_BUILD_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(MIN(len(embedding)) AS INT) AS dim,
       CAST(16 AS BIGINT) AS n_lists
FROM embeddings
"""


def sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query path only: loads the persisted index (building it on first
    touch) and runs the bucket-pruned probe join — no per-call KMeans."""
    indexed, centroids = _load_ivf_index(spark, sf_dir)
    return ivf_query_frame(indexed, centroids)


def sim_knn_rewritten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §4 rewrite demonstrated end-to-end: build the naive
    ORDER BY cosine LIMIT k plan for probe 0, run it through
    plans.rewrite.rewrite_knn against the persisted IVF index, and
    return the substituted probe plan. The function asserts the
    rewrite actually fired — a silent fall-through to the naive full
    scan would defeat the operator's purpose. R-tier like sim_ivf_ann
    (IVF approximation on metric-uniform driver data); on clustered
    corpora tests assert exact equality with the naive plan's rows."""
    from ..plans.rewrite import knn_orderby_frame, rewrite_knn

    emb = load_table(spark, sf_dir, "embeddings")
    naive = knn_orderby_frame(emb, probe_id=0, k=TOP_K)
    indexed, centroids = _load_ivf_index(spark, sf_dir)
    rewritten = rewrite_knn(naive, indexed, centroids)
    assert rewritten is not naive, "knn rewrite did not fire"
    return rewritten


def sim_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality profile: per-label centroid (exploded to
    (label, pos, centroid) rows - compat rule 6) joined back to give
    each vector's distance to its own centroid. Centroids are rounded
    to 6 dp BEFORE the distance so both engines subtract identical
    values; the squared-distance sum is then a deterministic fold."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    cent = flat.groupBy("label", "pos").agg(
        F.round(F.sum("v") / F.count("v"), 6).alias("c")
    )
    dist = (
        flat.join(cent, ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.round(F.sqrt(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c")))), 6).alias("dist_to_centroid"))
    )
    return dist


_CENTROID_SQL = """
WITH flat AS (
  SELECT vec_id, label, r.i AS pos, CAST(embedding[r.i + 1] AS DOUBLE) AS v
  FROM embeddings e, LATERAL (SELECT UNNEST(range(len(e.embedding))) AS i) r),
cent AS (
  SELECT label, pos, round(SUM(v) / COUNT(v), 6) AS c
  FROM flat GROUP BY label, pos)
SELECT f.vec_id, f.label,
       round(sqrt(SUM((f.v - c.c) * (f.v - c.c))), 6) AS dist_to_centroid
FROM flat f JOIN cent c ON f.label = c.label AND f.pos = c.pos
GROUP BY f.vec_id, f.label
"""


def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed text+vector record: documents joined 1:1 to embeddings,
    filtered to the English corpus, label distribution per source (the
    array column rides through the join untouched)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    joined = docs.join(emb, docs.doc_id == emb.vec_id).where(F.col("lang") == "en")
    return joined.groupBy("source", "label").agg(
        bcount().alias("n_docs"),
        F.min(F.size("embedding")).cast("long").alias("dim_check"),
    )


_MULTIMODAL_SQL = """
SELECT source, CAST(label AS INT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(len(embedding)) AS BIGINT) AS dim_check
FROM documents JOIN embeddings ON doc_id = vec_id
WHERE lang = 'en'
GROUP BY source, label
"""


_EXEMPLAR_K = 3


def emb_exemplar_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative-exemplar selection: the 3 vectors nearest (dot
    product) to their own label centroid — how an eval-set curator
    picks canonical members of each cluster. Centroids are rounded to
    6 dp BEFORE the dot (both engines multiply identical values,
    compat rule); ranking uses the ROUNDED dot with a vec_id tiebreak
    so order is engine-independent. The per-label rank<=k cut rides
    Spark's WindowGroupLimit (per-partition top-k before the 10-key
    exchange), and the centroid table joined back is label-cardinality
    — broadcast-sized at any corpus scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    cent = flat.groupBy("label", "pos").agg(
        F.round(F.sum("v") / F.count("v"), 6).alias("c")
    )
    dots = (
        flat.join(cent, ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.round(F.sum(F.col("v") * F.col("c")), 6).alias("dot"))
    )
    w = Window.partitionBy("label").orderBy(F.col("dot").desc(), F.col("vec_id").asc())
    return (
        dots.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _EXEMPLAR_K)
        .select("label", "rank", "vec_id", "dot")
    )


_EXEMPLAR_SQL = f"""
WITH flat AS (
  SELECT vec_id, label, r.i AS pos, CAST(embedding[r.i + 1] AS DOUBLE) AS v
  FROM embeddings e, LATERAL (SELECT UNNEST(range(len(e.embedding))) AS i) r),
cent AS (
  SELECT label, pos, round(SUM(v) / COUNT(v), 6) AS c
  FROM flat GROUP BY label, pos),
dots AS (
  SELECT f.vec_id, f.label, round(SUM(f.v * c.c), 6) AS dot
  FROM flat f JOIN cent c ON f.label = c.label AND f.pos = c.pos
  GROUP BY f.vec_id, f.label)
SELECT label,
       CAST(ROW_NUMBER() OVER (PARTITION BY label
                               ORDER BY dot DESC, vec_id ASC) AS BIGINT) AS rank,
       vec_id, dot
FROM dots
QUALIFY rank <= {_EXEMPLAR_K}
"""


def emb_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per label — the cluster-
    quality score sklearn calls silhouette with the O(n·k) centroid
    approximation instead of O(n²) pairwise: a = distance to own
    centroid, b = min distance to any OTHER centroid,
    s = (b−a)/max(a,b), averaged per label. Centroids are rounded
    before distances (compat rule); the per-vector k-way distance table
    is label-cardinality-bounded (k=10 centroids broadcast), so the
    whole thing is one posexplode scan + a k-way broadcast join at any
    corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    cent = flat.groupBy("label", "pos").agg(
        F.round(F.sum("v") / F.count("v"), 6).alias("c")
    )
    cent_all = cent.select(
        F.col("label").alias("cent_label"), "pos", "c"
    )
    dists = (
        flat.join(F.broadcast(cent_all), "pos")
        .groupBy("vec_id", "label", "cent_label")
        .agg(
            F.round(
                F.sqrt(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c")))),
                6,
            ).alias("dist")
        )
    )
    per_vec = dists.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("cent_label") == F.col("label"), F.col("dist"))).alias(
            "a"
        ),
        F.min(F.when(F.col("cent_label") != F.col("label"), F.col("dist"))).alias(
            "b"
        ),
    )
    s = F.round(
        (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b")), 6
    )
    return (
        per_vec.groupBy("label")
        .agg(
            bcount().alias("n_vectors"),
            F.round(
                F.sum(s.cast("decimal(30,6)")).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("mean_silhouette"),
        )
        .orderBy("label")
    )


_SILHOUETTE_SQL = """
WITH flat AS (
  SELECT vec_id, label, r.i AS pos, CAST(embedding[r.i + 1] AS DOUBLE) AS v
  FROM embeddings e, LATERAL (SELECT UNNEST(range(len(e.embedding))) AS i) r),
cent AS (
  SELECT label AS cent_label, pos, round(SUM(v) / COUNT(v), 6) AS c
  FROM flat GROUP BY label, pos),
dists AS (
  SELECT f.vec_id, f.label, c.cent_label,
         round(sqrt(SUM((f.v - c.c) * (f.v - c.c))), 6) AS dist
  FROM flat f JOIN cent c ON f.pos = c.pos
  GROUP BY f.vec_id, f.label, c.cent_label),
per_vec AS (
  SELECT vec_id, label,
         MAX(CASE WHEN cent_label = label THEN dist END) AS a,
         MIN(CASE WHEN cent_label <> label THEN dist END) AS b
  FROM dists GROUP BY vec_id, label)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       round(CAST(SUM(CAST(round((b - a) / greatest(a, b), 6)
                           AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 6)
         AS mean_silhouette
FROM per_vec
GROUP BY label
ORDER BY label
"""


# -- incremental IVF index maintenance --------------------------------------

_UPSERT_MOD = 8  # new-ingest batch = vec_id % _UPSERT_MOD == 0
_UPSERT_K = 16


def assign_frozen(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign vectors to their nearest FROZEN centroid (squared
    euclidean, cell tiebreak) via a broadcast of the k-row centroid
    table — one map pass, no re-clustering, no history read. This is
    how a 100 TB index absorbs a daily ingest: the coarse quantizer is
    fixed; only assignment runs."""
    d2 = F.aggregate(
        F.zip_with(
            "embedding",
            "centroid",
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # argmin as a partially-aggregable min_by, NOT a window: map-side
    # combine collapses the k-fold centroid expansion back to one row
    # per vector before anything shuffles (a window would sort the
    # full k x N expansion with the embeddings carried through — the
    # 40x smoke measured that at ~7x superlinear). (d2, cell) is
    # tie-free because cell is unique; embedding is constant within
    # the group, so first() is value-deterministic.
    return (
        vecs.crossJoin(F.broadcast(centroids))
        .withColumn("d2", d2)
        .groupBy("vec_id")
        .agg(
            F.first("embedding").alias("embedding"),
            F.min_by("cell", F.struct(F.col("d2"), F.col("cell"))).alias(
                "cell"
            ),
        )
        .select("vec_id", "embedding", "cell")
    )


def _upsert_index(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """(hist_indexed_dir, centroids_dir, delta_dir): a history-only IVF
    index (built once per input state by build_once) plus the new batch assigned with
    the frozen quantizer and written as a delta commit."""
    root = scratch_dir("ann_ivf_upsert", sf_dir)
    hist_dir = os.path.join(root, "indexed")
    cent_dir = os.path.join(root, "centroids")
    delta_dir = os.path.join(root, "delta")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def build() -> None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        hist = emb.where(F.col("vec_id") % _UPSERT_MOD != 0)
        vec = hist.withColumn(
            "vec", array_to_vector(F.col("embedding").cast("array<double>"))
        )
        model = KMeans(
            k=_UPSERT_K, seed=42, featuresCol="vec", predictionCol="cell"
        ).fit(vec.limit(_IVF_FIT_SAMPLE))
        model.transform(vec).select("vec_id", "embedding", "cell").write.partitionBy(
            "cell"
        ).parquet(hist_dir)
        spark.createDataFrame(
            [
                (i, [float(x) for x in c])
                for i, c in enumerate(model.clusterCenters())
            ],
            "cell int, centroid array<double>",
        ).coalesce(1).write.parquet(cent_dir)

    build_once(root, sf_dir, build, (_UPSERT_MOD, _UPSERT_K, _IVF_FIT_SAMPLE))
    new = emb.where(F.col("vec_id") % _UPSERT_MOD == 0).localCheckpoint()
    centroids = spark.read.parquet(cent_dir)
    assign_frozen(new, centroids).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(delta_dir)
    return hist_dir, cent_dir, delta_dir


def ann_ivf_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF maintenance: absorb a new-vector batch into the
    persisted index WITHOUT re-clustering or re-reading history — new
    vectors are assigned with the frozen coarse quantizer (broadcast
    centroid map pass) and land as a cell-partitioned delta commit;
    the serving index is history ∪ delta.

    The oracle pins the model-independent facts of the upserted index
    (total/new vector counts, dim, list count, vec_id checksum — i.e.
    exactly the right vectors ended up indexed, none lost or
    duplicated); tests/test_embeddings.py pins the model-dependent
    half: the upserted index's assignments equal assigning the UNION
    corpus with the same frozen centroids, and history text never
    appears in the combined read's plan."""
    hist_dir, cent_dir, delta_dir = _upsert_index(spark, sf_dir)
    combined = spark.read.parquet(hist_dir).unionByName(
        spark.read.parquet(delta_dir)
    )
    delta_n = spark.read.parquet(delta_dir).agg(
        bcount().alias("n_new")
    )
    facts = combined.agg(
        bcount().alias("n_vectors"),
        F.min(F.size("embedding")).cast("int").alias("dim"),
        F.sum("vec_id").cast("long").alias("vec_id_checksum"),
    )
    lists = spark.read.parquet(cent_dir).agg(bcount().alias("n_lists"))
    return (
        facts.crossJoin(F.broadcast(delta_n))
        .crossJoin(F.broadcast(lists))
        .select("n_vectors", "n_new", "dim", "n_lists", "vec_id_checksum")
    )


_ANN_UPSERT_SQL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN vec_id % {_UPSERT_MOD} = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new,
       CAST(MIN(len(embedding)) AS INT) AS dim,
       CAST({_UPSERT_K} AS BIGINT) AS n_lists,
       CAST(SUM(vec_id) AS BIGINT) AS vec_id_checksum
FROM embeddings
"""


QUERIES = {
    "ann_ivf_upsert": ann_ivf_upsert,
    "sim_knn_exact": sim_knn_exact,
    "emb_exemplar_topk": emb_exemplar_topk,
    "emb_silhouette": emb_silhouette,
    "sim_lsh_ann": sim_lsh_ann,
    "ann_ivf_build": ann_ivf_build,
    "sim_ivf_ann": sim_ivf_ann,
    "sim_knn_rewritten": sim_knn_rewritten,
    "sim_centroid_by_label": sim_centroid_by_label,
    "multimodal_join": multimodal_join,
}

ORACLE = {
    "sim_knn_exact": _KNN_SQL,
    "emb_exemplar_topk": _EXEMPLAR_SQL,
    "emb_silhouette": _SILHOUETTE_SQL,
    # sim_lsh_ann / sim_ivf_ann / sim_knn_rewritten: R-tier
    # (randomized/model-dependent; recall@5 and clustered-fixture
    # equality asserted vs sim_knn_exact in tests). ann_ivf_build's
    # corpus facts ARE deterministic, so it carries a full oracle.
    "ann_ivf_build": _ANN_BUILD_SQL,
    "ann_ivf_upsert": _ANN_UPSERT_SQL,
    "sim_centroid_by_label": _CENTROID_SQL,
    "multimodal_join": _MULTIMODAL_SQL,
}


# ---------------------------------------------------------------------------
# kNN majority-vote classifier (round 4): labels for the probe set by
# majority vote over their exact top-k cosine neighbors — the
# classifier layer on top of sim_knn_exact's retrieval.


def ml_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote kNN over the exact top-5 cosine neighbors: vote =
    most frequent neighbor label, ties broken toward the smaller label
    id (exact integer counts, no float in the vote). Reuses the
    broadcast-probe retrieval (corpus never shuffles); the vote is a
    k-row-per-probe aggregate. Emits predicted vs actual per probe."""
    emb = load_table(spark, sf_dir, "embeddings")
    neighbors = knn_exact_frame(emb)
    labels = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl"))
    votes = (
        neighbors.join(F.broadcast(labels), "neighbor_id")
        .groupBy("probe_id", "nl")
        .agg(bcount().alias("votes"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("votes").desc(), F.col("nl").asc())
    pred = votes.withColumn("rk", F.row_number().over(w)).where(F.col("rk") == 1)
    actual = emb.select(F.col("vec_id").alias("probe_id"), F.col("label").alias("actual"))
    return pred.join(F.broadcast(actual), "probe_id").select(
        "probe_id",
        F.col("nl").cast("long").alias("predicted"),
        F.col("actual").cast("long").alias("actual"),
        F.col("votes").cast("long").alias("votes"),
        (F.col("nl") == F.col("actual")).alias("hit"),
    )


_KNN_CLASSIFIER_SQL = f"""
WITH knn AS ({_KNN_SQL}),
votes AS (
  SELECT k.probe_id, e.label AS nl, CAST(COUNT(*) AS BIGINT) AS votes
  FROM knn k JOIN embeddings e ON k.neighbor_id = e.vec_id
  GROUP BY 1, 2),
pred AS (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY votes DESC, nl ASC) AS rk
  FROM votes)
SELECT p.probe_id, CAST(p.nl AS BIGINT) AS predicted,
       CAST(e.label AS BIGINT) AS actual, p.votes,
       p.nl = e.label AS hit
FROM pred p JOIN embeddings e ON p.probe_id = e.vec_id
WHERE p.rk = 1
"""

QUERIES["ml_knn_classifier"] = ml_knn_classifier
ORACLE["ml_knn_classifier"] = _KNN_CLASSIFIER_SQL


# ---------------------------------------------------------------------------
# MMR diverse reranking (round 4): maximal marginal relevance
# (Carbonell & Goldstein 1998) — the standard retrieval rerank that
# trades relevance against redundancy, applied on top of the exact
# top-10 candidates per probe.

_MMR_LAMBDA = 0.7
_MMR_CANDS = 10
_MMR_K = 5


def emb_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR selection of 5 from the exact top-10 cosine
    candidates per probe: pick argmax relevance first, then 4 rounds
    of argmax [lambda*rel(d) - (1-lambda)*max_sim(d, selected)].

    Determinism: relevances and candidate-pair similarities are
    rounded to 6 dp BEFORE selection; each round's score is one
    multiply-subtract on those shared operands with an id tie-break,
    so both engines walk the identical greedy path (the oracle unrolls
    the same 5 rounds as chained CTEs). Scale: candidate and pair
    frames are probe-bounded (10 and 90 rows per probe) — the corpus
    is touched only by the one retrieval scan; the rerank is
    metadata-sized however large the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    cands = knn_exact_frame(emb, k=_MMR_CANDS).localCheckpoint(eager=False)
    vecs = emb.select("vec_id", "embedding")
    a = cands.select("probe_id", F.col("neighbor_id").alias("a"))
    pairs = a.join(
        cands.select("probe_id", F.col("neighbor_id").alias("b")), "probe_id"
    ).where(F.col("a") != F.col("b"))
    psim = (
        pairs.join(F.broadcast(vecs.withColumnRenamed("vec_id", "a")), "a")
        .withColumnRenamed("embedding", "va")
        .join(F.broadcast(vecs.withColumnRenamed("vec_id", "b")), "b")
        .withColumnRenamed("embedding", "vb")
        .select(
            "probe_id", "a", "b", F.round(_dot(F.col("va"), F.col("vb")), 6).alias("sim")
        )
        .localCheckpoint(eager=False)
    )
    selected = (
        cands.where(F.col("rank") == 1)
        .select(
            "probe_id",
            F.col("neighbor_id").alias("doc_id"),
            F.col("cosine").alias("mmr_score"),
            F.lit(1).cast("long").alias("mmr_rank"),
        )
        .localCheckpoint(eager=False)
    )
    for it in range(2, _MMR_K + 1):
        rem = cands.join(
            selected.select("probe_id", F.col("doc_id").alias("neighbor_id")),
            ["probe_id", "neighbor_id"],
            "left_anti",
        )
        ms = (
            psim.join(
                selected.select("probe_id", F.col("doc_id").alias("b")),
                ["probe_id", "b"],
            )
            .groupBy("probe_id", "a")
            .agg(F.max("sim").alias("max_sim"))
        )
        scored = rem.join(
            ms,
            (rem.probe_id == ms.probe_id) & (rem.neighbor_id == ms.a),
        ).select(
            rem.probe_id.alias("probe_id"),
            F.col("neighbor_id"),
            (
                F.lit(_MMR_LAMBDA) * F.col("cosine")
                - F.lit(1 - _MMR_LAMBDA) * F.col("max_sim")
            ).alias("score"),
        )
        w = Window.partitionBy("probe_id").orderBy(
            F.col("score").desc(), F.col("neighbor_id").asc()
        )
        pick = (
            scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select(
                "probe_id",
                F.col("neighbor_id").alias("doc_id"),
                F.round("score", 6).alias("mmr_score"),
                F.lit(it).cast("long").alias("mmr_rank"),
            )
        )
        selected = selected.union(pick).localCheckpoint(eager=False)
    return selected


def _mmr_sql() -> str:
    lam = _MMR_LAMBDA
    one_m = 1 - _MMR_LAMBDA
    steps = []
    for it in range(2, _MMR_K + 1):
        steps.append(f"""
ms{it} AS (
  SELECT p.probe_id, p.a, MAX(p.sim) AS max_sim
  FROM psim p JOIN sel{it - 1} s
    ON p.probe_id = s.probe_id AND p.b = s.doc_id
  GROUP BY 1, 2),
pick{it} AS (
  SELECT c.probe_id, c.neighbor_id AS doc_id,
         round({lam} * c.cosine - {one_m} * m.max_sim, 6) AS mmr_score,
         CAST({it} AS BIGINT) AS mmr_rank,
         row_number() OVER (PARTITION BY c.probe_id
           ORDER BY {lam} * c.cosine - {one_m} * m.max_sim DESC,
                    c.neighbor_id ASC) AS rk
  FROM cands c
  JOIN ms{it} m ON c.probe_id = m.probe_id AND c.neighbor_id = m.a
  WHERE NOT EXISTS (SELECT 1 FROM sel{it - 1} s
                    WHERE s.probe_id = c.probe_id
                      AND s.doc_id = c.neighbor_id)),
sel{it} AS (
  SELECT probe_id, doc_id, mmr_score, mmr_rank FROM sel{it - 1}
  UNION ALL
  SELECT probe_id, doc_id, mmr_score, mmr_rank FROM pick{it} WHERE rk = 1)""")
    body = ",".join(steps)
    return f"""
WITH dots AS (
  -- list_dot_product = Spark's F.aggregate fold, bit-exact
  -- (see _KNN_SQL; ADVICE r8)
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         round(list_dot_product(CAST(p.embedding AS DOUBLE[]),
                                CAST(c.embedding AS DOUBLE[])), 6) AS cosine
  FROM embeddings p JOIN embeddings c ON p.vec_id != c.vec_id
  WHERE p.vec_id < {N_PROBES}),
cands AS (
  SELECT * FROM (
    SELECT probe_id, neighbor_id, cosine,
           CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
    FROM dots) WHERE rank <= {_MMR_CANDS}),
psim AS (
  SELECT c1.probe_id, c1.neighbor_id AS a, c2.neighbor_id AS b,
         round(list_dot_product(CAST(e1.embedding AS DOUBLE[]),
                                CAST(e2.embedding AS DOUBLE[])), 6) AS sim
  FROM cands c1
  JOIN cands c2 ON c1.probe_id = c2.probe_id
               AND c1.neighbor_id != c2.neighbor_id
  JOIN embeddings e1 ON e1.vec_id = c1.neighbor_id
  JOIN embeddings e2 ON e2.vec_id = c2.neighbor_id),
sel1 AS (
  SELECT probe_id, neighbor_id AS doc_id, cosine AS mmr_score,
         CAST(1 AS BIGINT) AS mmr_rank
  FROM cands WHERE rank = 1),
{body}
SELECT probe_id, doc_id, mmr_score, mmr_rank FROM sel{_MMR_K}
"""

QUERIES["emb_mmr_rerank"] = emb_mmr_rerank
ORACLE["emb_mmr_rerank"] = _mmr_sql()


# ---------------------------------------------------------------------------
# IVF recall sweep (round 5): the self-tuning surface an ANN user
# reaches for first — recall@TOP_K vs exact truth as a function of
# nprobe. ONE candidate join at the widest nprobe tags every candidate
# with its cell's probe-rank (crank); each narrower nprobe is then a
# filter over the same frame, so the sweep costs one index probe, not
# one per nprobe value. R-tier: the numbers depend on the fitted
# KMeans quantizer; monotonicity (recall non-decreasing in nprobe) is
# a THEOREM under exact re-ranking — a true top-k member in the
# candidate set can only be outranked by genuinely-better vectors —
# and tests/test_embeddings.py pins it, plus full-recall at
# nprobe=n_cells on a clustered fixture.

_RECALL_NPROBES = (1, 2, 4, 8)


def ivf_recall_profile_frames(
    indexed: DataFrame,
    centroids: DataFrame,
    exact: DataFrame,
    nprobes: tuple[int, ...] = _RECALL_NPROBES,
    n_probes: int = N_PROBES,
) -> DataFrame:
    """recall@TOP_K per nprobe from a pre-built index and exact truth
    (columns probe_id, neighbor_id)."""
    spark = indexed.sparkSession
    probes = indexed.where(F.col("vec_id") < n_probes).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    probe_cells = probes.crossJoin(F.broadcast(centroids)).select(
        "probe_id",
        "probe_vec",
        "cell",
        _dot(F.col("probe_vec"), F.col("centroid")).alias("cdot"),
    )
    w_cell = Window.partitionBy("probe_id").orderBy(F.col("cdot").desc(), F.col("cell"))
    widest = max(nprobes)
    nearest = probe_cells.withColumn("crank", F.row_number().over(w_cell)).where(
        F.col("crank") <= widest
    )
    cand = (
        indexed.join(
            F.broadcast(nearest.select("probe_id", "probe_vec", "cell", "crank")),
            "cell",
        )
        .where(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            "crank",
            F.round(_dot(F.col("probe_vec"), F.col("embedding")), 6).alias("cosine"),
        )
        .localCheckpoint(eager=False)
    )
    truth = exact.select("probe_id", "neighbor_id").localCheckpoint(eager=False)
    n_exact = truth.count()
    out = None
    for nprobe in nprobes:
        w = Window.partitionBy("probe_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        topk = (
            cand.where(F.col("crank") <= nprobe)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= TOP_K)
        )
        hits = truth.join(
            topk.select("probe_id", "neighbor_id"), ["probe_id", "neighbor_id"], "semi"
        ).count()
        row = spark.createDataFrame(
            [(nprobe, hits, n_exact, round(hits / n_exact, 6))],
            "nprobe bigint, n_hits bigint, n_exact bigint, recall_at_k double",
        )
        out = row if out is None else out.unionByName(row)
    return out


def ann_ivf_recall_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-nprobe sweep over the PERSISTED index (built on first
    touch, reused after), measured against sim_knn_exact."""
    indexed, centroids = _load_ivf_index(spark, sf_dir)
    exact = knn_exact_frame(load_table(spark, sf_dir, "embeddings"))
    return ivf_recall_profile_frames(indexed, centroids, exact)


QUERIES["ann_ivf_recall_profile"] = ann_ivf_recall_profile
# ann_ivf_recall_profile: R-tier (model-dependent recall; monotonicity
# + clustered-fixture full recall pinned in tests/test_embeddings.py).


def sim_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: exact cosine top-k where candidates are
    restricted by a METADATA predicate — here "same label as the
    probe", the pre-filtered ANN shape every vector store exposes
    (category-scoped retrieval, tenant isolation). Pre-filtering
    happens BEFORE scoring: the corpus join carries the label equality
    conjunct, so at scale the filter prunes candidates inside the
    broadcast-hash join rather than discarding scored pairs after the
    fact (post-filter top-k loses recall; this is the correct
    semantics AND the correct plan). Everything else follows
    sim_knn_exact's discipline (dot = JVM fold, 6-dp rounding before
    ranking, id tiebreak)."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
        F.col("label").alias("probe_label"),
    )
    pairs = emb.join(
        F.broadcast(probes),
        (F.col("vec_id") != F.col("probe_id"))
        & (F.col("label") == F.col("probe_label")),
    )
    scored = pairs.select(
        "probe_id",
        F.col("probe_label").cast("long").alias("label"),
        F.col("vec_id").alias("neighbor_id"),
        F.round(_dot(F.col("probe_vec"), F.col("embedding")), 6).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOP_K)
        .select("probe_id", "label", "neighbor_id", "cosine", "rank")
    )


_FILTERED_KNN_SQL = f"""
WITH dots AS (
  SELECT p.vec_id AS probe_id,
         CAST(p.label AS BIGINT) AS label,
         c.vec_id AS neighbor_id,
         -- list_dot_product = Spark's F.aggregate fold, bit-exact
         -- (see _KNN_SQL; ADVICE r8)
         round(list_dot_product(CAST(p.embedding AS DOUBLE[]),
                                CAST(c.embedding AS DOUBLE[])), 6) AS cosine
  FROM embeddings p
  JOIN embeddings c ON p.vec_id != c.vec_id AND p.label = c.label
  WHERE p.vec_id < {N_PROBES}),
ranked AS (
  SELECT probe_id, label, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
              ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM dots)
SELECT probe_id, label, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {TOP_K}
"""

QUERIES["sim_filtered_knn"] = sim_filtered_knn
ORACLE["sim_filtered_knn"] = _FILTERED_KNN_SQL
