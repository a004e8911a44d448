"""Scale-smoke harness: synthesize a ~10-20x blow-up of the largest
driver dataset (sf0.1) inside .scratch and drive the heaviest operators
on it - evidence that plan shapes hold beyond the graded scale, not
just at 600k lineitems.

The blow-up preserves the schema, key relationships and value domains
(FIXTURES.md): fact keys are remapped as key*N+i so foreign keys stay
consistent; event timestamps get per-replica second offsets so
sessionization/windows see distinct instants.

Usage: python tools/scale_smoke.py [N_replicas] [qid ...]
(default 10 replicas, full HEAVY list; naming qids runs that subset —
the 30-50x runs measure the heaviest families only)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from cortana_intelligence_customer360_spark.session import get_spark  # noqa: E402
from cortana_intelligence_customer360_spark.sources.tables import load_table  # noqa: E402

SRC = "/root/testdata/sf0.1"
N = int(sys.argv[1]) if len(sys.argv) > 1 else 10
ONLY = set(sys.argv[2:])
# v2: embeddings are replicated too (vec_id remap) so the distributed
# blocked-matmul dedup is measured at blow-up scale.
OUT = os.path.join(REPO, ".scratch", f"sfx{N}v2")


def _replicate(df, n, key_cols, ts_cols=(), other_remaps=()):
    """Cross with a replica index; remap keys to key*n+i (FK-safe)."""
    r = df.crossJoin(F.broadcast(get_spark().range(n).select(F.col("id").alias("_i"))))
    for c in key_cols:
        r = r.withColumn(c, F.col(c) * n + F.col("_i"))
    for c in ts_cols:
        r = r.withColumn(c, F.col(c) + F.make_interval(secs=F.col("_i")))
    for c, expr in other_remaps:
        r = r.withColumn(c, expr)
    return r.drop("_i")


def build(spark) -> None:
    if os.path.exists(os.path.join(OUT, "_SUCCESS_ALL")):
        return
    cust = load_table(spark, SRC, "customer")
    orders = load_table(spark, SRC, "orders")
    li = load_table(spark, SRC, "lineitem")
    ev = load_table(spark, SRC, "events")
    docs = load_table(spark, SRC, "documents")

    _replicate(cust, N, ["c_custkey"]).write.mode("overwrite").parquet(f"{OUT}/customer.parquet")
    _replicate(orders, N, ["o_orderkey", "o_custkey"]).write.mode("overwrite").parquet(
        f"{OUT}/orders.parquet"
    )
    _replicate(li, N, ["l_orderkey"]).write.mode("overwrite").parquet(f"{OUT}/lineitem.parquet")
    _replicate(ev, N, ["event_id", "user_id"], ts_cols=["ts"]).write.mode(
        "overwrite"
    ).parquet(f"{OUT}/events.parquet")
    _replicate(docs, N, ["doc_id"]).write.mode("overwrite").parquet(f"{OUT}/documents.parquet")
    emb = load_table(spark, SRC, "embeddings")
    _replicate(emb, N, ["vec_id"]).write.mode("overwrite").parquet(f"{OUT}/embeddings.parquet")
    for t in ("region", "nation", "supplier", "part"):
        load_table(spark, SRC, t).write.mode("overwrite").parquet(f"{OUT}/{t}.parquet")
    open(os.path.join(OUT, "_SUCCESS_ALL"), "w").close()


HEAVY = [
    "agg_pricing_summary",
    "join_star_multiway",
    "feat_profile_join",
    "feat_sessionize",
    "join_asof",
    "win_sliding_range",
    "dedup_exact",
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "agg_pivot",
    # round-2 second-session additions
    "merge_upsert",
    "scd2_history",
    "dedup_cluster_stars",
    "tpch_q8_market_share",
    "multimodal_decode_png",
    "graph_pagerank",
    # round-3 additions
    "ts_resample_ohlc",
    "ts_gap_fill",
    "ts_ewma",
    "feat_activity_streak",
    "graph_bfs_hops",
    "join_range_bucketed",
    "text_bm25_search",
    "text_unigram_logprob",
    "emb_quantize_int8",
    "mv_incremental_refresh",
    # round-2 third-session additions
    "join_spatial_grid",
    "dedup_canonical_pick",
    "cdc_apply_log",
    "join_asof_nearest",
    "feat_session_paths",
    "feat_markov_transitions",
    "win_error_burst",
    "maint_compact_small_files",
    "sql_recursive_cte",
    # round-5 session-3 additions
    "ml_adaboost_stumps",
    "ml_tree_depth2",
    "ts_croston",
    "graph_adamic_adar",
    "text_ngram_novelty",
    "stat_mann_whitney",
    "ml_isotonic_pava",
    "agg_session_window_batch",
    "ml_als_user_step",
    "ml_gmm_em_1d",
    "stat_spearman_corr",
    "agg_robust_means",
    "text_pmi_collocations",
    "dedup_sorted_neighborhood",
    "agg_window_tvf",
    "diff_snapshots",
    "udf_map_in_arrow",
    # round-3 fourth-session additions
    "feat_identity_resolution",
    "ml_naive_bayes",
    "ml_logreg_newton",
    "dedup_containment",
    "ts_theil_sen",
    "ts_seasonal_decompose",
    "text_ttr_vocab",
    "feat_category_hhi",
    "feat_ltv_heuristic",
    "agg_hll_custom",
    "agg_count_min",
    # round-4 additions
    "dedup_incremental",
    "data_source_mixture",
    "text_cdc_chunks",
    "agg_quantile_sketch",
    "agg_bloom_custom",
    "graph_label_prop",
    "data_epoch_shuffle",
    "ann_ivf_upsert",
    "join_bloom_runtime",
    "join_skew_aqe",
    "stream_quantile_merge",
    "fn_ip_cidr",
    "win_decline_streak",
    "multimodal_mime_sniff",
    "ml_kmeans_lloyd",
    "ts_mann_kendall",
    "graph_clustering_coeff",
    "agg_revenue_bridge",
    "dq_outlier_iqr",
    "text_js_divergence",
    # round-5 additions
    "feat_shapley_channel",
    "stat_permutation_test",
    "graph_random_walk_deepwalk",
    "feat_propensity_matching",
    "feat_kaplan_meier",
    "ts_acf_profile",
    "ml_ridge_closed_form",
    "agg_skew_kurtosis",
]


def main() -> None:
    spark = get_spark(app_name="c360-scale-smoke", driver_memory="48g")
    t0 = time.time()
    build(spark)
    build_sec = round(time.time() - t0, 1)

    # Patched loader: events in the blow-up are already µs timestamps.
    import cortana_intelligence_customer360_spark.sources.tables as tables

    orig = tables.load_table

    def load_patched(spark, sf_dir, name):
        if sf_dir == OUT:
            return spark.read.parquet(f"{sf_dir}/{name}.parquet")
        return orig(spark, sf_dir, name)

    tables.load_table = load_patched
    for mod in list(sys.modules.values()):
        if getattr(mod, "load_table", None) is orig:
            mod.load_table = load_patched

    from cortana_intelligence_customer360_spark import registry

    queries, _ = registry.build()
    rows = {
        t: spark.read.parquet(f"{OUT}/{t}.parquet").count()
        for t in ("lineitem", "events", "customer", "documents")
    }
    timings = {}
    heavy = sorted(ONLY) if ONLY else list(HEAVY)
    if not ONLY and N > 10:
        # The exact all-pairs Jaccard baseline is quadratic by design
        # (SCALE_SMOKE.md); above 10x only the MinHash path is run.
        heavy.remove("dedup_ngram_jaccard")
    for qid in heavy:
        t0 = time.time()
        queries[qid](spark, OUT).write.format("noop").mode("overwrite").save()
        timings[qid] = round(time.time() - t0, 2)
    print(
        json.dumps(
            {
                "replicas": N,
                "build_sec": build_sec,
                "rows": rows,
                "heavy_queries_sec": timings,
            }
        )
    )


if __name__ == "__main__":
    main()
