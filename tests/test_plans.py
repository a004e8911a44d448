"""Physical-plan shape assertions (SURVEY.md §5.3 item 6): the plans
that must hold at 100 TB - pushdown reaching the scan, broadcast joins
for small dims, map-side partial aggregation, top-k never full-sorting.
"""

from __future__ import annotations

from cortana_intelligence_customer360_spark.operators import (
    aggregates,
    joins,
    scans,
    setops,
)
from cortana_intelligence_customer360_spark.plans.asserts import (
    assert_in_plan,
    plan_string,
)


def test_scan_pushdown_reaches_parquet(spark, sf_dir):
    df = scans.scan_project_pushdown(spark, sf_dir)
    plan = plan_string(df)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_discount)" in plan or "GreaterThan(l_discount" in plan
    # Column pruning: ReadSchema carries only the needed columns.
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema


def test_broadcast_join_is_broadcast(spark, sf_dir):
    assert_in_plan(joins.join_broadcast(spark, sf_dir), "BroadcastHashJoin")


def test_star_join_broadcasts_dims(spark, sf_dir):
    assert_in_plan(joins.join_star_multiway(spark, sf_dir), "BroadcastHashJoin")


def test_agg_has_partial_phase(spark, sf_dir):
    plan = plan_string(aggregates.agg_pricing_summary(spark, sf_dir))
    assert "partial_" in plan, "no map-side partial aggregation"


def test_topk_is_take_ordered(spark, sf_dir):
    assert_in_plan(setops.topk_global(spark, sf_dir), "TakeOrderedAndProject")


def test_semi_join_stays_semi(spark, sf_dir):
    plan = plan_string(joins.join_semi(spark, sf_dir))
    assert "LeftSemi" in plan


def test_tpch_q5_all_joins_broadcast(spark, sf_dir):
    """The Q5 five-way star resolves every dim join to a broadcast hash
    join with the compound (suppkey, nationkey) equi-key extracted - no
    shuffle on the fact table for dim lookups."""
    from cortana_intelligence_customer360_spark.operators import tpch

    plan = plan_string(tpch.tpch_q5_local_supplier(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_tpch_q4_exists_is_semi_join(spark, sf_dir):
    """The EXISTS predicate must compile to a LeftSemi hash join (one
    pass over lineitem, no output amplification), with the extra
    shipdate inequality as the join's non-equi condition."""
    from cortana_intelligence_customer360_spark.operators import tpch

    plan = plan_string(tpch.tpch_q4_order_priority(spark, sf_dir))
    assert "LeftSemi" in plan, plan[:1500]


def test_tpch_q19_part_conjuncts_push_to_scan(spark, sf_dir):
    """The disjunction mixes columns of both tables so it can't fully
    push below the join, but its part-only residue (brand IN + size
    bound) must still reach the part scan as PushedFilters, and the
    part side must broadcast."""
    from cortana_intelligence_customer360_spark.operators import tpch

    plan = plan_string(tpch.tpch_q19_disjunctive(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters" in plan and "p_brand" in plan, plan[:2000]


def test_tpch_q15_aggregates_before_join(spark, sf_dir):
    """Per-supplier revenue must aggregate lineitem BEFORE the supplier
    join (the join input is supplier-cardinality, not line-cardinality)
    and the scalar max must arrive via broadcast, not a shuffle."""
    from cortana_intelligence_customer360_spark.operators import tpch

    plan = plan_string(tpch.tpch_q15_top_supplier(spark, sf_dir))
    assert "partial_" in plan  # map-side combine on the revenue sum
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_tpch_q22_no_orders_is_anti_join(spark, sf_dir):
    from cortana_intelligence_customer360_spark.operators import tpch

    plan = plan_string(tpch.tpch_q22_idle_customers(spark, sf_dir))
    assert "LeftAnti" in plan, plan[:1500]


def test_tfidf_df_table_is_broadcast(spark, sf_dir):
    """The document-frequency table is vocabulary-sized, not corpus-
    sized: it must reach the per-doc scoring join as a broadcast."""
    from cortana_intelligence_customer360_spark.llmops import text

    plan = plan_string(text.text_tfidf_topk(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_partition_pruned_scan_has_partition_filters(spark, sf_dir):
    """The o_year predicate must prune partitions at file-listing time
    (PartitionFilters), not post-scan."""
    plan = plan_string(scans.scan_partition_pruned(spark, sf_dir))
    assert "PartitionFilters" in plan and "o_year" in plan, plan[:1500]


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Spark's runtime bloom-filter join pruning must engage when the
    build side is selectively filtered: the probe side scans through a
    might_contain() filter instead of feeding every row to the join -
    at 100 TB this is the difference between shuffling the full fact
    table and shuffling the ~matching slice."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        part = spark.read.parquet(f"{sf_dir}/part.parquet").where(
            F.col("p_size") == 1
        )
        j = li.join(part, li.l_partkey == part.p_partkey)
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan or "might_contain" in plan, plan[:1500]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tpch_q6_filters_push_to_scan(spark, sf_dir):
    """Q6 is pure scan-filter-agg: all three predicates must reach the
    parquet reader as PushedFilters, and the ReadSchema must carry only
    the four referenced columns."""
    from cortana_intelligence_customer360_spark.operators import tpch2

    plan = plan_string(tpch2.tpch_q6_forecast_revenue(spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "l_discount" in plan.split("PushedFilters:")[1].splitlines()[0]
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_returnflag" not in read_schema
    assert "l_partkey" not in read_schema


def test_tpch_q21_exists_shapes(spark, sf_dir):
    """Q21's EXISTS must stay a LeftSemi and its NOT EXISTS a LeftAnti
    (never a full join + filter), both equi on orderkey so they hash
    rather than nested-loop."""
    from cortana_intelligence_customer360_spark.operators import tpch2

    plan = plan_string(tpch2.tpch_q21_waiting_supplier(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "NestedLoop" not in plan.replace("BroadcastNestedLoop", "")


def test_tpch_q2_dims_broadcast_and_agg_first(spark, sf_dir):
    """Q2: part/supplier/nation/region and the per-part min table all
    broadcast; lineitem aggregates (partial phase) before the min-
    equality join, so the fact table shuffles only on the group keys."""
    from cortana_intelligence_customer360_spark.operators import tpch2

    plan = plan_string(tpch2.tpch_q2_min_cost_supplier(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "partial_min" in plan


def test_tpch_q16_not_in_is_anti_join(spark, sf_dir):
    from cortana_intelligence_customer360_spark.operators import tpch2

    plan = plan_string(tpch2.tpch_q16_supplier_count(spark, sf_dir))
    assert "LeftAnti" in plan


def test_time_bucket_rollup_reads_raw_once(spark, sf_dir):
    """The continuous-aggregate invariant: the output plan must derive
    every grain from the materialized 15-min table — zero scans of raw
    events in the union (Spark does not CSE identical union branches,
    so deriving from raw would triple the 100 TB scan)."""
    from cortana_intelligence_customer360_spark.operators import aggregates as agg

    df = agg.agg_time_bucket_rollup(spark, sf_dir)
    plan = plan_string(df)
    assert "events.parquet" not in plan
    assert plan.count("agg_time_bucket_rollup") >= 3


def test_range_bucketed_join_avoids_nested_loop(spark, sf_dir):
    """The bucketed-range-join rewrite must plan as an EQUI join on the
    bucket id (hash-partitioned, AQE-splittable) — never the
    BroadcastNestedLoopJoin/CartesianProduct a bare interval predicate
    would produce, which is O(n^2) at 100 TB."""
    plan = plan_string(joins.join_range_bucketed(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_unigram_lm_is_broadcast(spark, sf_dir):
    """Corpus scoring must broadcast the vocabulary-sized LM/df tables
    so the token stream (the 100 TB side) never reshuffles for the
    join."""
    from cortana_intelligence_customer360_spark.llmops import scoring

    plan = plan_string(scoring.text_unigram_logprob(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # Post-rewrite BM25 has no per-token join at all: the token stream
    # reduces via groupBy(doc_id), and the single-row corpus-stats frame
    # arrives via a broadcast cross join (BNLJ against one row is the
    # cheap/correct shape). Pin: stats side broadcast, and every shuffle
    # is doc_id-keyed — term count never adds a shuffle. (The static
    # plan shows the per_doc exchange twice — once under stats — which
    # AQE deduplicates into a ReusedExchange at runtime.)
    plan2 = plan_string(scoring.text_bm25_search(spark, sf_dir))
    assert ("BroadcastNestedLoopJoin" in plan2) or ("BroadcastHashJoin" in plan2)
    import re as _re

    shuffles = _re.findall(r"hashpartitioning\((\w+)#", plan2)
    assert shuffles and all(k == "doc_id" for k in shuffles), shuffles


def test_quantizer_is_map_only(spark, sf_dir):
    """int8 quantization must not shuffle: amax comes from a JVM
    higher-order aggregate over the array column, so the whole plan is
    scan -> project -> generate (posexplode)."""
    from cortana_intelligence_customer360_spark.llmops import embeddings

    plan = plan_string(embeddings.emb_quantize_int8(spark, sf_dir))
    assert "Exchange" not in plan


def test_spatial_grid_join_is_equi_not_allpairs(spark, sf_dir):
    """The grid rewrite must plan as a cell-keyed equi join — never a
    cross product with a distance filter (the quadratic shape the
    rewrite exists to avoid)."""
    from cortana_intelligence_customer360_spark.operators import spatial

    plan = plan_string(spatial.join_spatial_grid(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_pii_redact_is_map_only(spark, sf_dir):
    """Regex count+redact is pure per-row column work: the plan must be
    a single scan->project with no shuffle and no Python boundary."""
    from cortana_intelligence_customer360_spark.llmops import text

    plan = plan_string(text.text_pii_redact(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython


def test_markov_shuffles_only_on_user_then_pair(spark, sf_dir):
    """The event stream shuffles once (user window); everything after
    operates on the |types|^2 aggregate, so no other event-sized
    exchange may appear."""
    import re

    from cortana_intelligence_customer360_spark.features import core

    plan = plan_string(core.feat_markov_transitions(spark, sf_dir))
    keys = re.findall(r"hashpartitioning\((\w+)#", plan)
    assert keys and set(keys) <= {"user_id", "prev_type"}, keys


def test_asof_nearest_single_user_shuffle(spark, sf_dir):
    """Both scan directions must ride ONE user-keyed hash partitioning
    (two sorts, no second Exchange) and there is no join at all in the
    plan — the union-merge shape."""
    import re

    from cortana_intelligence_customer360_spark.operators import joins

    plan = plan_string(joins.join_asof_nearest(spark, sf_dir))
    keys = re.findall(r"hashpartitioning\((\w+)#", plan)
    assert keys and set(keys) == {"user_id"}, keys
    assert "Join" not in plan


def test_nullsafe_join_is_hash_join(spark, sf_dir):
    """<=> must plan as a hash-joinable equi key, never a nested-loop
    fallback."""
    from cortana_intelligence_customer360_spark.operators import joins

    plan = plan_string(joins.join_nullsafe_equi(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    )


def test_pagerank_iteration_edges_never_reshuffle(spark, sf_dir):
    """The 100 TB contract of the PageRank step: the persisted,
    src-partitioned edge list streams into the rank join in place
    (shuffle-hash, no sort) — the only Exchanges in an iteration move
    the node-cardinality rank table. In the plan tree the streamed
    side of the ShuffledHashJoin must read the InMemoryTableScan with
    no Exchange (and no Sort) in between."""
    from pyspark.sql import functions as F

    from cortana_intelligence_customer360_spark.operators import graph

    edges = graph._weighted_edges(spark, sf_dir)
    try:
        nodes = edges.select(F.col("src").alias("node")).distinct()
        ranks = nodes.withColumn("n", F.lit(100)).withColumn(
            "rank", F.lit(0.01)
        )
        plan = plan_string(graph._pagerank_step(edges, ranks), mode="simple")
        assert "ShuffledHashJoin" in plan, plan
        # Left (streamed) child is printed first: the segment between
        # the join node and its edge-side leaf must be Exchange-free.
        seg = plan.split("ShuffledHashJoin", 1)[1].split(
            "InMemoryTableScan", 1
        )[0]
        assert "Exchange" not in seg, seg
        assert "Sort" not in seg, seg
    finally:
        edges.unpersist()


def test_knn_rewrite_fires_and_prunes(spark, sf_dir):
    """rewrite_knn must (a) substitute a DIFFERENT plan for the naive
    ORDER BY cosine LIMIT k query — one that joins on the index's cell
    column instead of cross-joining the whole corpus — and (b) return
    a non-matching DataFrame unchanged (identity), so applying it
    blindly can never corrupt a query."""
    from cortana_intelligence_customer360_spark.llmops import similarity
    from cortana_intelligence_customer360_spark.plans.rewrite import (
        knn_orderby_frame,
        rewrite_knn,
    )
    from cortana_intelligence_customer360_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    indexed, centroids = similarity.fit_ivf_frames(emb, k=4)
    naive = knn_orderby_frame(emb, probe_id=0, k=5)
    rewritten = rewrite_knn(naive, indexed, centroids)
    assert rewritten is not naive
    plan = plan_string(rewritten)
    assert "cell" in plan  # candidate join keyed on the inverted-list id
    # the naive shape's corpus-wide cross join must be gone
    assert "CartesianProduct" not in plan

    not_knn = emb.groupBy("label").count()
    assert rewrite_knn(not_knn, indexed, centroids) is not_knn
    # same shape but ascending sort: must NOT match (top-k semantics
    # only hold for DESC)
    from pyspark.sql import functions as F

    asc = knn_orderby_frame(emb, probe_id=0, k=5).orderBy(
        F.col("cosine").asc(), F.col("neighbor_id")
    )
    assert rewrite_knn(asc, indexed, centroids) is asc


def test_reservoir_topk_uses_window_group_limit(spark, sf_dir):
    """The per-group rank<=k cut must ride Spark's WindowGroupLimit
    rewrite (a per-partition top-k BEFORE the 5-key exchange) — without
    it, the full events table shuffles into 5 hot partitions."""
    from cortana_intelligence_customer360_spark.operators.graph import (
        sample_reservoir_per_group,
    )

    plan = plan_string(sample_reservoir_per_group(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


def test_exemplar_topk_uses_window_group_limit(spark, sf_dir):
    from cortana_intelligence_customer360_spark.llmops.similarity import (
        emb_exemplar_topk,
    )

    plan = plan_string(emb_exemplar_topk(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


def test_zorder_query_is_take_ordered(spark, sf_dir):
    """The z-order query form must compile to TakeOrderedAndProject
    (per-partition heap + driver merge), never a full global sort."""
    plan = plan_string(setops.sort_zorder(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_global_ranking_is_range_partitioned_not_single_window(spark, sf_dir):
    """agg_pareto_revenue / agg_gini_revenue must rank via the
    distributed pattern: a RangePartitioning exchange of the data frame
    plus per-partition windows — never a partitionless window that
    drags every row into one task."""
    from cortana_intelligence_customer360_spark.features.attribution import (
        agg_gini_revenue,
        agg_pareto_revenue,
    )

    from cortana_intelligence_customer360_spark.features.attribution import (
        _global_ranked_cumsum,
    )
    from cortana_intelligence_customer360_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    # The ranking core (pre-checkpoint) must range-partition the data.
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("rev_dec"))
    )
    core = _global_ranked_cumsum(
        per_cust, "rev_dec", [F.col("rev_dec").desc(), "o_custkey"],
        checkpoint=False,
    )
    assert "rangepartitioning" in plan_string(core).lower()
    # The registered ops consume the pinned (checkpointed) ranking, so
    # their plans read the materialized frame instead of re-running the
    # exchange per branch — the fix for offset/pid inconsistency.
    for fn in (agg_pareto_revenue, agg_gini_revenue):
        plan = plan_string(fn(spark, sf_dir))
        assert "ExistingRDD" in plan or "LocalTableScan" in plan, fn.__name__


def test_ip_cidr_dim_is_broadcast(spark, sf_dir):
    """The CIDR block table must ride a broadcast range join — a
    shuffled theta join here would move the full event stream."""
    from cortana_intelligence_customer360_spark.functions.network import (
        fn_ip_cidr,
    )

    plan = plan_string(fn_ip_cidr(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_category_hhi_scans_lineitem_once(spark, sf_dir):
    """Dominant-category arg-max shares the per_type frame (window +
    aggregate on one custkey partitioning); a join-back form would
    re-derive the 3-table join and scan lineitem 3x."""
    from cortana_intelligence_customer360_spark.features.value import (
        feat_category_hhi,
    )

    plan = plan_string(feat_category_hhi(spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, plan
    assert "BroadcastHashJoin" in plan  # part dim broadcast


def test_naive_bayes_model_tables_broadcast(spark, sf_dir):
    """Scoring joins the (|classes| x |types|) log-likelihood table and
    the prior by broadcast — the corpus-side shuffle is the only one."""
    from cortana_intelligence_customer360_spark.features.ml import (
        ml_naive_bayes,
    )

    plan = plan_string(ml_naive_bayes(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_ttr_vocab_is_map_only(spark, sf_dir):
    """Per-doc lexical stats via sorted-array neighbor comparison:
    ZERO Exchange — runs at scan speed at any corpus size (the
    explode + groupBy form measured 2x-superlinear at 40x)."""
    from cortana_intelligence_customer360_spark.llmops.text import (
        text_ttr_vocab,
    )

    plan = plan_string(text_ttr_vocab(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_incremental_dedup_reads_history_via_index_only(spark, sf_dir):
    """dedup_incremental's probe must read history ONLY through the
    persisted band/sig index parquet: the probe plan contains the index
    paths and NO scan of documents.parquet (the new batch's signatures
    are materialized before probing, so at 100 TB each ingest touches
    an O(|history| x B) two-column index, never historical text)."""
    from cortana_intelligence_customer360_spark.llmops.incremental import (
        dedup_incremental,
    )

    df = dedup_incremental(spark, sf_dir)
    plan = plan_string(df)
    assert "documents.parquet" not in plan, plan[:2000]
    assert "dedup_incremental" in plan  # the scratch index root
    assert "bands" in plan and "sigs" in plan


def test_bloom_runtime_filter_in_registered_star_join(spark, sf_dir):
    """join_bloom_runtime's join shape must actually get the runtime
    bloom filter injected into the fact side under its conf scope."""
    from cortana_intelligence_customer360_spark.operators.joins import (
        BLOOM_CONFS,
        bloom_star_join,
    )
    from cortana_intelligence_customer360_spark.session import session_conf

    def run():
        df = bloom_star_join(spark, sf_dir)
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    with session_conf(spark, BLOOM_CONFS):
        plan = run()
    assert "might_contain" in plan or "bloom_filter_agg" in plan, plan[:2000]


def test_aqe_skew_split_fires_on_planted_skew(spark, sf_dir):
    """join_skew_aqe's planted 80%-hot-key join must trigger AQE's
    skew-partition split under its conf scope: the executed plan's
    shuffle read shows skew-split partitions (the runtime complement
    to the manual join_salted_skew; answer equality is pinned by the
    driver oracle)."""
    from cortana_intelligence_customer360_spark.operators.joins import (
        SKEW_CONFS,
        skewed_fact_dim,
    )
    from cortana_intelligence_customer360_spark.session import session_conf

    def run():
        fact, dim = skewed_fact_dim(spark, sf_dir)
        j = fact.join(dim, "skew_key")
        j.collect()
        return j._jdf.queryExecution().executedPlan().toString()

    with session_conf(spark, SKEW_CONFS):
        plan = run()
    skew_reads = [
        l for l in plan.splitlines()
        if "AQEShuffleRead" in l and "skewed" in l
    ]
    assert skew_reads, plan[:2000]


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """The fact scan's PartitionFilters must carry a dynamicpruning
    expression fed by the dim-side subquery — runtime partition
    pruning, not a static filter."""
    from cortana_intelligence_customer360_spark.operators import joins

    df = joins.join_partition_pruning_dynamic(spark, sf_dir)
    plan = plan_string(df)
    assert "dynamicpruning" in plan.lower(), plan[:1500]
    assert "PartitionFilters" in plan


def test_bpe_encode_vocab_join_is_broadcast(spark, sf_dir):
    """The corpus-sized word stream must join the vocabulary map as a
    BroadcastHashJoin (map-only corpus pass) — a shuffled join here
    would re-shuffle the entire exploded corpus at 100 TB."""
    from cortana_intelligence_customer360_spark.llmops.text import text_bpe_encode

    plan = plan_string(text_bpe_encode(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_deletion_vector_read_is_broadcast_anti_join(spark, sf_dir):
    """Merge-on-read must anti-join the (deleted-rows-sized) DV as the
    broadcast side; the fact scan never shuffles."""
    from cortana_intelligence_customer360_spark.sources.lakehouse import (
        lake_deletion_vectors,
    )

    plan = plan_string(lake_deletion_vectors(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_auc_has_no_pairwise_join(spark, sf_dir):
    """Wilcoxon-rank AUC is join-free by construction: one score-group
    aggregate + one bounded window — the quadratic positive x negative
    join the rank form exists to avoid must not appear."""
    from cortana_intelligence_customer360_spark.features.attribution import (
        ml_auc_roc,
    )

    plan = plan_string(ml_auc_roc(spark, sf_dir))
    assert "Join" not in plan
    # partial aggregation before the exchange (map-side combine)
    assert "partial_" in plan


def test_shapley_single_wide_exchange(spark, sf_dir):
    """feat_shapley_channel: exactly ONE exchange keys on user_id (the
    event collapse); everything downstream runs on <=16-row frames via
    broadcast joins — no second wide shuffle of event-scale data."""
    from cortana_intelligence_customer360_spark.features.experiments import (
        feat_shapley_channel,
    )

    plan = plan_string(feat_shapley_channel(spark, sf_dir))
    # The user_id collapse runs ONCE, eagerly, at the 16-row coalition
    # checkpoint — the downstream plan must never re-shuffle user- or
    # event-scale data and resolves every coalition join by broadcast.
    assert plan.count("hashpartitioning(user_id") == 0
    assert plan.count("hashpartitioning(mask") == 0
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_permutation_partial_agg_before_shuffle(spark, sf_dir):
    """stat_permutation_test: the x200 explode partially aggregates
    map-side (partial_ markers), so the draw shuffle moves B x
    partitions sufficient-stat rows, not user x B rows."""
    from cortana_intelligence_customer360_spark.features.experiments import (
        stat_permutation_test,
    )

    plan = plan_string(stat_permutation_test(spark, sf_dir))
    assert "partial_" in plan


def test_ratio_ci_single_custkey_shuffle(spark, sf_dir):
    """agg_ratio_delta_ci: the per-customer collapse exchanges on
    o_custkey exactly once; the segment aggregate is partial-combined."""
    from cortana_intelligence_customer360_spark.features.experiments import (
        agg_ratio_delta_ci,
    )

    plan = plan_string(agg_ratio_delta_ci(spark, sf_dir))
    assert plan.count("hashpartitioning(o_custkey") <= 2  # agg + join reuse
    assert "partial_" in plan


def test_kaplan_meier_two_shuffles(spark, sf_dir):
    """feat_kaplan_meier: shuffle budget is the custkey collapse plus
    the segment-keyed windows — no event/order-scale re-exchange, and
    the two windows share the c_mktsegment partitioning."""
    from cortana_intelligence_customer360_spark.features.experiments import (
        feat_kaplan_meier,
    )

    plan = plan_string(feat_kaplan_meier(spark, sf_dir))
    assert plan.count("hashpartitioning(o_custkey") <= 2
    assert "Window" in plan


def test_dbscan_no_cartesian(spark, sf_dir):
    """ml_dbscan_grid: pair generation goes through the 9-cell grid
    equi-join — no CartesianProduct / BroadcastNestedLoop anywhere in
    the final assembly plan."""
    from cortana_intelligence_customer360_spark.features.ml import ml_dbscan_grid

    plan = plan_string(ml_dbscan_grid(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_greedy_decode_frontier_broadcast(spark, sf_dir):
    """text_greedy_decode: every frontier-vs-best join resolves to a
    broadcast join (the frontier is seeds-sized), never an SMJ of the
    vocabulary table per step."""
    from cortana_intelligence_customer360_spark.llmops.scoring import (
        text_greedy_decode,
    )

    plan = plan_string(text_greedy_decode(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_mann_whitney_rank_window_on_distinct_values_only(spark, sf_dir):
    """stat_mann_whitney: the cumulative rank window runs AFTER the
    value-group aggregate (partial_ markers present), so the
    single-partition window sees distinct values, never raw rows; the
    final sufficient-stat collapse is partial-combined too."""
    from cortana_intelligence_customer360_spark.features.inference import (
        stat_mann_whitney,
    )

    plan = plan_string(stat_mann_whitney(spark, sf_dir))
    assert "partial_" in plan
    assert "Window" in plan
    # the window input is the grouped value table: its exchange keys on
    # the value aggregation, not on a raw-row id
    assert "hashpartitioning(x" in plan
    # ...and the cumulative count shards into per-bucket windows (the
    # deterministic value-bucket pattern), never a partitionless window
    assert "hashpartitioning(bkt" in plan


def test_brown_forsythe_median_broadcast_back(spark, sf_dir):
    """stat_brown_forsythe: the 5-row median frame joins back to the
    fact rows by broadcast, never a sort-merge of order-scale data."""
    from cortana_intelligence_customer360_spark.features.inference import (
        stat_brown_forsythe,
    )

    plan = plan_string(stat_brown_forsythe(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan
    # the per-segment median rank shards into (seg, bucket) windows,
    # not a 5-task segment window
    assert "hashpartitioning(seg" in plan


def test_fdr_bh_nation_dim_broadcast(spark, sf_dir):
    """stat_fdr_bh: the nation dim joins by broadcast and the
    per-nation counts partial-aggregate map-side; the BH windows run on
    the 25-row frame only (no window keyed on a fact-table column)."""
    from cortana_intelligence_customer360_spark.features.inference import (
        stat_fdr_bh,
    )

    plan = plan_string(stat_fdr_bh(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan


def test_isotonic_quadratic_work_on_bucket_frame_only(spark, sf_dir):
    """ml_isotonic_pava: lineitem is scanned exactly once (the bucket
    collapse); the O(n^2) range/triple joins run on the checkpointed
    <=50-row frame, so no second fact-table exchange exists."""
    from cortana_intelligence_customer360_spark.features.inference import (
        ml_isotonic_pava,
    )

    plan = plan_string(ml_isotonic_pava(spark, sf_dir))
    assert plan.count("Scan parquet") <= 1, "fact table must be scanned once"
    assert "partial_" in plan


def test_adamic_adar_weight_joined_before_wedge_agg(spark, sf_dir):
    """graph_adamic_adar: the wedge aggregate partial-combines map-side
    (weights attached before the groupBy) and the final top-k is a
    TakeOrderedAndProject, never a global sort."""
    from cortana_intelligence_customer360_spark.operators.graph import (
        graph_adamic_adar,
    )

    plan = plan_string(graph_adamic_adar(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "partial_" in plan


def test_pacf_single_orderdate_shuffle(spark, sf_dir):
    """ts_pacf_durbin: all heavy lifting is the ACF's one
    groupBy(o_orderdate) exchange; the Durbin-Levinson cascade adds no
    further exchange of date-scale data."""
    from cortana_intelligence_customer360_spark.operators.timeseries import (
        ts_pacf_durbin,
    )

    plan = plan_string(ts_pacf_durbin(spark, sf_dir))
    assert plan.count("hashpartitioning(o_orderdate") <= 1


def test_adaboost_single_pass_no_expansion(spark, sf_dir):
    """ml_adaboost_stumps: candidate errors are conditional aggregates
    in one codegen scan — no join of the fact table against the
    candidate grid survives in the plan (only 1-row broadcast stump
    applications), and aggregation partial-combines map-side."""
    from cortana_intelligence_customer360_spark.features.inference import (
        ml_adaboost_stumps,
    )

    plan = plan_string(ml_adaboost_stumps(spark, sf_dir))
    assert "partial_" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_gmm_em_broadcast_params_only(spark, sf_dir):
    """ml_gmm_em_1d: every iteration joins the fact table only against
    broadcast 1-row parameter frames; no data-sized shuffle join."""
    from cortana_intelligence_customer360_spark.features.inference import (
        ml_gmm_em_1d,
    )

    plan = plan_string(ml_gmm_em_1d(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    # iterations run eagerly at checkpoint time; the emitted plan is a
    # union of the pinned 1-row parameter frames
    assert "ExistingRDD" in plan or "LocalTableScan" in plan


def test_als_factor_join_broadcast(spark, sf_dir):
    """ml_als_user_step: the 25-row brand-factor join is broadcast and
    the per-customer solve rides a partial-combined aggregation."""
    from cortana_intelligence_customer360_spark.features.inference import (
        ml_als_user_step,
    )

    plan = plan_string(ml_als_user_step(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan


def test_croston_partkey_partitioned_windows(spark, sf_dir):
    """ts_croston: the event windows key on the part, and the demand
    collapse partial-aggregates before its shuffle."""
    from cortana_intelligence_customer360_spark.operators.timeseries import (
        ts_croston,
    )

    plan = plan_string(ts_croston(spark, sf_dir))
    assert "hashpartitioning(l_partkey" in plan
    assert "partial_" in plan


def test_spearman_no_partitionless_data_window(spark, sf_dir):
    """stat_spearman_corr: both midrank passes shard by value bucket
    (hashpartitioning(bkt)), never a partitionless window over the
    value tables."""
    from cortana_intelligence_customer360_spark.features.inference import (
        stat_spearman_corr,
    )

    plan = plan_string(stat_spearman_corr(spark, sf_dir))
    assert plan.count("hashpartitioning(bkt") >= 2
    assert "partial_" in plan


def test_sorted_neighborhood_bucketed_windows(spark, sf_dir):
    """dedup_sorted_neighborhood: neighbor windows key on the sort-key
    bucket; the boundary stitch joins tiny tail/head frames."""
    from cortana_intelligence_customer360_spark.llmops.dedup import (
        dedup_sorted_neighborhood,
    )

    plan = plan_string(dedup_sorted_neighborhood(spark, sf_dir))
    assert "hashpartitioning(bkt" in plan


def test_heavy_hitter_exact_phase_broadcasts(spark, sf_dir):
    """The streaming heavy-hitter verification phase must semi-join the
    corpus against BROADCAST candidates (tiny by the MG bound) — a
    shuffled semi join here would defeat the sketch's purpose."""
    from pyspark.sql import functions as F

    from cortana_intelligence_customer360_spark.streaming.heavy import _exact_phase

    cands = spark.createDataFrame([("w1",), ("w2",)], ["word"])
    plan = plan_string(_exact_phase(spark, sf_dir, cands))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_avro_roundtrip_is_exchange_free(spark, sf_dir):
    """Decode side of the avro round-trip: binary blobs scan straight
    into mapInPandas with no Exchange (one container per split)."""
    from cortana_intelligence_customer360_spark.operators import scans as sc

    plan = plan_string(sc.scan_avro_roundtrip(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_modularity_scores_from_checkpointed_labels(spark, sf_dir):
    """graph_modularity must score from the ONE materialized edge +
    label frame, not replay the lineitem-orders edge derivation or the
    LPA rounds (the r6 bench regression): the final plan reads only
    checkpointed RDDs — zero parquet scans, zero join rounds beyond
    the two label broadcasts + sizes join."""
    from cortana_intelligence_customer360_spark.operators import graph

    plan = plan_string(graph.graph_modularity(spark, sf_dir))
    assert "lineitem" not in plan, plan
    assert "orders" not in plan, plan
    assert "Scan ExistingRDD" in plan or "LogicalRDD" in plan, plan


def test_protobuf_roundtrip_is_map_only(spark, sf_dir):
    """Encode+decode are one map-only pass: the only Exchange ever
    allowed is the adaptive local round-robin split (fires only when
    input splits < cores — a no-op at production scale); never a
    hash/range exchange."""
    from cortana_intelligence_customer360_spark.functions import protobuf_codec

    plan = plan_string(protobuf_codec.fn_protobuf_roundtrip(spark, sf_dir))
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan, plan


def test_sql_udf_scalar_is_inlined(spark, sf_dir):
    """The SQL scalar UDF must be INLINED by the analyzer (that is the
    whole point of catalog SQL UDFs vs Python UDFs): the physical plan
    contains no Python evaluation node, and the CASE body appears in
    the aggregate's child projection — whole-stage codegen is kept."""
    from cortana_intelligence_customer360_spark.sources.tables import load_table

    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "plans_udf_orders"
    )
    fname = "c360_plans_disc"
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY FUNCTION {fname}(price DOUBLE, pri STRING) "
        "RETURNS DOUBLE "
        "RETURN CASE WHEN pri LIKE '1-%' THEN price * CAST(0.9 AS DOUBLE) "
        "ELSE price END"
    )
    try:
        df = spark.sql(
            f"SELECT o_orderpriority, SUM({fname}(o_totalprice, o_orderpriority)) "
            "FROM plans_udf_orders GROUP BY 1"
        )
        plan = plan_string(df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "partial_" in plan  # map-side combine survives the UDF
    finally:
        spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {fname}")


def test_lateral_df_api_compiles_to_window_group_limit(spark, sf_dir):
    """The correlated limit-2 lateral subquery must decorrelate into a
    rank window with WindowGroupLimit pushdown (partial below the
    exchange) — NOT a per-row re-execution or nested-loop join."""
    from cortana_intelligence_customer360_spark.operators.joins import (
        join_lateral_df_api,
    )
    from cortana_intelligence_customer360_spark.plans.asserts import (
        assert_in_plan,
        assert_not_in_plan,
    )

    df = join_lateral_df_api(spark, sf_dir)
    assert_in_plan(df, "WindowGroupLimit", mode="simple")
    assert_not_in_plan(df, "BroadcastNestedLoopJoin", "CartesianProduct",
                       mode="simple")


def test_values_and_tvf_literal_sides_broadcast(spark, sf_dir):
    """Inline VALUES dims and the range() spine are literal relations:
    the fact side must never shuffle for them (BroadcastHashJoin)."""
    from cortana_intelligence_customer360_spark.operators.sqlsurface import (
        sql_tvf_range,
        sql_values_inline,
    )
    from cortana_intelligence_customer360_spark.plans.asserts import (
        assert_in_plan,
    )

    assert_in_plan(sql_values_inline(spark, sf_dir), "BroadcastHashJoin",
                   mode="simple")
    df = sql_tvf_range(spark, sf_dir)
    assert_in_plan(df, "BroadcastHashJoin", "Range (0, 12", mode="simple")


def test_formatting_ops_are_map_only(spark, sf_dir):
    """format_number / bround / utf8 validation are pure projections —
    zero Exchange in the plan."""
    from cortana_intelligence_customer360_spark.functions.formatting import (
        fn_bround_even,
        fn_number_format,
        fn_utf8_validation,
    )
    from cortana_intelligence_customer360_spark.plans.asserts import (
        assert_not_in_plan,
    )

    for op in (fn_number_format, fn_bround_even, fn_utf8_validation):
        assert_not_in_plan(op(spark, sf_dir), "Exchange", mode="simple")


def test_regr_family_has_partial_aggregation(spark, sf_dir):
    from cortana_intelligence_customer360_spark.operators.aggregates import (
        agg_regr_family,
    )
    from cortana_intelligence_customer360_spark.plans.asserts import (
        plan_string,
    )

    plan = plan_string(agg_regr_family(spark, sf_dir), mode="simple")
    assert "partial_" in plan, "moment sums must combine map-side"


def test_ps_resample_compiles_to_native_catalyst(spark, sf_dir):
    """The pandas-API resample must stay JVM-side: a union of the
    binned data with the filler bins feeding one hash aggregate —
    no Python evaluation node anywhere in the plan."""
    from cortana_intelligence_customer360_spark.operators.pandas_api import (
        ps_resample_monthly,
    )

    plan = plan_string(ps_resample_monthly(spark, sf_dir), mode="simple")
    assert "HashAggregate" in plan
    assert "Union" in plan  # resample's empty-bin filler side
    for py_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_node not in plan
