"""User-facing API: the replacement surface for the reference stack.

A user of the reference solution ran HiveQL/Spark-SQL scripts over
blob-backed tables (ADF -> HDInsight) and consumed one wide profile
table downstream. The equivalents here:

    from cortana_intelligence_customer360_spark import api

    spark = api.get_spark()                  # tuned session
    api.open_catalog(spark, sf_dir)          # all tables as views
    spark.sql("SELECT ... FROM orders JOIN customer ...")   # any SQL

    api.customer_profile(spark, sf_dir)      # the enriched 360 table
    api.run("agg_pricing_summary", spark, sf_dir)  # any named operator

Every named operator from the registry is also reachable by id, so the
full SURVEY §2 surface is one call away.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import registry
from .features.core import feat_profile_join
from .session import as_op, get_spark, provision  # noqa: F401  (get_spark: re-export)
from .sources.tables import TABLES, load_table


def open_catalog(spark: SparkSession, sf_dir: str, prefix: str = "") -> list[str]:
    """Register every catalog table as a temp view named
    ``{prefix}{table}`` and return the view names. After this, the
    entire engine surface is plain ``spark.sql``."""
    provision(spark)
    names = []
    for t in TABLES:
        name = f"{prefix}{t}"
        load_table(spark, sf_dir, t).createOrReplaceTempView(name)
        names.append(name)
    return names


def customer_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship enriched Customer-360 profile (one wide row per
    customer) - the table the reference served to Power BI."""
    return as_op(feat_profile_join)(spark, sf_dir)


def run(query_id: str, spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run any registered operator by its SURVEY §2 id."""
    queries, _ = registry.build()
    try:
        fn = queries[query_id]
    except KeyError:
        raise KeyError(
            f"unknown query id {query_id!r}; known ids: {sorted(queries)}"
        ) from None
    return fn(spark, sf_dir)


def query_ids() -> list[str]:
    return sorted(registry.build()[0])


def manifest_table(root: str):
    """Open (or create) a manifest-format table at ``root`` — the
    from-scratch lakehouse surface (sources/lakehouse.py): immutable
    append/overwrite commits, snapshot-isolated time travel, and
    min/max file skipping. See ManifestTable for the full contract."""
    from .sources.lakehouse import ManifestTable

    return ManifestTable(root)


def attribution_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch channel attribution for every purchase — the
    marketer-facing conversion-credit table (features/attribution.py)."""
    from .features.attribution import feat_attribution_touch

    return as_op(feat_attribution_touch)(spark, sf_dir)


# Corpus-size threshold where exact brute-force top-k stops being the
# right physical strategy for ANN (one fold per probe x corpus row).
EXACT_KNN_MAX_CORPUS = 1_000_000


def nearest_neighbors(
    emb: DataFrame,
    n_probes: int = 10,
    k: int = 5,
    method: str = "auto",
) -> DataFrame:
    """Adaptive ANN: pick the physical strategy from corpus statistics
    (the API-level analog of the SURVEY §4 stretch goal - a Catalyst
    rewrite of ``ORDER BY cosine LIMIT k`` would need a JVM extension;
    the decision logic is identical here).

    - ``exact``: broadcast-probe brute force - correct and cheapest up
      to ~1M corpus rows.
    - ``ivf``: KMeans inverted lists - sub-linear probes on CLUSTERED
      corpora.
    - ``lsh``: random-projection buckets - distribution-free recall.

    ``auto`` chooses exact below EXACT_KNN_MAX_CORPUS and LSH above it
    (no clustering assumption); pass ``ivf`` explicitly when the corpus
    is known to cluster."""
    from .llmops.similarity import ivf_ann_frame, knn_exact_frame

    if method == "auto":
        method = "exact" if emb.count() <= EXACT_KNN_MAX_CORPUS else "lsh"
    if method == "exact":
        return knn_exact_frame(emb, n_probes=n_probes, k=k)
    if method == "ivf":
        return ivf_ann_frame(emb, n_probes=n_probes)
    if method == "lsh":
        from pyspark.ml.feature import BucketedRandomProjectionLSH
        from pyspark.ml.functions import array_to_vector
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        vecs = emb.select(
            "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("vec")
        )
        lsh = BucketedRandomProjectionLSH(
            inputCol="vec", outputCol="buckets", bucketLength=0.5, numHashTables=6, seed=42
        )
        model = lsh.fit(vecs)
        probes = vecs.where(F.col("vec_id") < n_probes)
        cand = model.approxSimilarityJoin(probes, vecs, 1.2, distCol="dist")
        scored = cand.where(
            F.col("datasetA.vec_id") != F.col("datasetB.vec_id")
        ).select(
            F.col("datasetA.vec_id").alias("probe_id"),
            F.col("datasetB.vec_id").alias("neighbor_id"),
            F.round(1.0 - F.col("dist") * F.col("dist") / 2.0, 6).alias("cosine"),
        )
        w = Window.partitionBy("probe_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k)
        )
    raise ValueError(f"unknown ANN method {method!r}: use auto|exact|ivf|lsh")
