"""Semantic tests beyond the oracle hash (SURVEY.md §5.3):
approximation bounds for R-tier operators, algebraic invariants, ML
evaluation, and the handcrafted micro-fixtures from FIXTURES.md.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cortana_intelligence_customer360_spark.features import core as feat
from cortana_intelligence_customer360_spark.features import ml as fml
from cortana_intelligence_customer360_spark.llmops import dedup, similarity
from cortana_intelligence_customer360_spark.operators import aggregates, joins, setops, windows
from cortana_intelligence_customer360_spark.sources.tables import load_table


# ---------- approximation bounds (R-tier) ----------


def test_approx_distinct_within_5pct(spark, sf_dir):
    approx = {
        r["event_type"]: r["approx_users"]
        for r in aggregates.agg_approx_distinct(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for et, n in exact.items():
        assert abs(approx[et] - n) <= max(1, 0.05 * n), (et, approx[et], n)


def test_approx_percentile_rank_error_bounded(spark, sf_dir):
    """The sketch quantile must land within accuracy-bound rank error
    (1/accuracy = 0.1% of rows) of the exact percentile, checked by
    rank position rather than value distance."""
    li = load_table(spark, sf_dir, "lineitem")
    got = {
        r["l_returnflag"]: [r["p25"], r["p50"], r["p75"], r["p95"]]
        for r in aggregates.agg_approx_percentile(spark, sf_dir).collect()
    }
    for flag, quantiles in got.items():
        vals = sorted(
            r["l_extendedprice"]
            for r in li.where(F.col("l_returnflag") == flag)
            .select("l_extendedprice")
            .collect()
        )
        n = len(vals)
        for q, v in zip([0.25, 0.5, 0.75, 0.95], quantiles):
            import bisect

            rank = bisect.bisect_left(vals, v)
            # 2x the nominal 1/accuracy rank error: duplicates and the
            # bisect boundary each cost up to one extra rank position.
            assert abs(rank - q * n) <= max(3, 2 * n / 1000 + 2), (flag, q, rank, n)


def test_minhash_recall_vs_exact_jaccard(spark, sf_dir):
    exact = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    assert exact, "expected planted near-dup pairs in the corpus"
    approx = {
        (r["a_id"], r["b_id"]) for r in dedup.dedup_minhash(spark, sf_dir).collect()
    }
    strong = {p for p, j in exact.items() if j >= 0.6}
    hit = len(strong & approx)
    assert hit >= 0.8 * len(strong), f"minhash recall {hit}/{len(strong)}"


def test_lsh_ann_recall_at_5(spark, sf_dir):
    exact = similarity.sim_knn_exact(spark, sf_dir).collect()
    truth: dict[int, set[int]] = {}
    for r in exact:
        truth.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    approx = similarity.sim_lsh_ann(spark, sf_dir).collect()
    got: dict[int, set[int]] = {}
    for r in approx:
        got.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(truth[p] & got.get(p, set())) / len(truth[p]) for p in truth
    ]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_lsh_ann_recall_planted_neighbors_bench_scale(spark):
    """LSH ANN recall at sf0.1 corpus size (5000 vectors, dim 64) with
    PLANTED ground truth: each probe gets 5 near-duplicates at cosine
    ~0.95; the remaining vectors are random (cos ~ N(0, 1/8) at dim 64,
    far below the planted band). The driver's own embeddings are
    metric-uniform, so this fixture is what proves the recall bound at
    bench scale rather than only on the 300-vector clustered fixture."""
    import numpy as np

    rng = np.random.default_rng(11)
    n, dim, n_probes, k = 5000, 64, 10, 5
    pts = rng.normal(size=(n, dim))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    # vec_ids 0..9 are probes; plant their neighbors at ids 10p+10..10p+14
    for p in range(n_probes):
        for j in range(k):
            i = 100 + p * k + j
            pts[i] = pts[p] + 0.3 * rng.normal(size=dim)
            pts[i] /= np.linalg.norm(pts[i])
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in pts[i]], 0) for i in range(n)],
        "vec_id long, embedding array<float>, label int",
    )
    sims = pts @ pts.T
    np.fill_diagonal(sims, -2)
    truth = {p: set(np.argsort(-sims[p])[:k].tolist()) for p in range(n_probes)}
    got: dict[int, set[int]] = {}
    for r in similarity.lsh_ann_frame(emb).collect():
        got.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    recalls = [len(truth[p] & got.get(p, set())) / k for p in truth]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_ivf_ann_recall_on_clustered_corpus(spark):
    """IVF recall is a property of clustered corpora; the driver's
    synthetic embeddings are metric-uniform (labels carry no distance
    signal), so the recall bound is asserted on a genuinely clustered
    fixture: 10 tight clusters around random unit centers."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = centers[np.arange(300) % 10] + 0.15 * rng.normal(size=(300, 64))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in pts[i]], int(i % 10)) for i in range(300)],
        "vec_id long, embedding array<float>, label int",
    )
    # exact truth via numpy
    sims = pts @ pts.T
    np.fill_diagonal(sims, -2)
    truth = {p: set(np.argsort(-sims[p])[:5].tolist()) for p in range(10)}
    got: dict[int, set[int]] = {}
    for r in similarity.ivf_ann_frame(emb, k=10, nprobe=2).collect():
        got.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    recalls = [len(truth[p] & got.get(p, set())) / 5 for p in truth]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_adaptive_ann_auto_picks_exact_on_small_corpus(spark, sf_dir):
    from cortana_intelligence_customer360_spark import api

    emb = load_table(spark, sf_dir, "embeddings")
    auto = {
        (r["probe_id"], r["neighbor_id"]) for r in api.nearest_neighbors(emb).collect()
    }
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in similarity.sim_knn_exact(spark, sf_dir).collect()
    }
    assert auto == exact  # auto == exact below the corpus threshold


def test_simhash_near_dups_are_hamming_close(spark, sf_dir):
    sims = {r["doc_id"]: r["simhash"] for r in dedup.dedup_simhash(spark, sf_dir).collect()}
    near = [
        (r["a_id"], r["b_id"])
        for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
        if r["jaccard"] >= 0.8
    ]
    if not near:
        pytest.skip("no J>=0.8 pairs at this sf")

    def ham(a: int, b: int) -> int:
        return bin(a ^ b).count("1")

    near_d = [ham(sims[a], sims[b]) for a, b in near]
    ids = sorted(sims)
    rand_d = [ham(sims[ids[i]], sims[ids[-(i + 1)]]) for i in range(min(50, len(ids) // 2))]
    assert sum(near_d) / len(near_d) < sum(rand_d) / len(rand_d)


# ---------- ML evaluation (SURVEY §5.4) ----------


def test_ml_beats_majority_baseline_and_roundtrips(spark, sf001_dir, tmp_path):
    from pyspark.ml import PipelineModel

    # Evaluated at sf0.01 (the driver's t2 scale): sf0.001 has only 15
    # labeled users - too few rows for any classifier to beat majority.
    sf_dir = sf001_dir
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    nation = load_table(spark, sf_dir, "nation")
    profile = feat.profile_frame(customer, orders, events, nation)
    labels = fml._label_frame(events)
    data = profile.join(labels, profile.c_custkey == labels.user_id)
    train, test = data.randomSplit([0.7, 0.3], seed=7)
    model = fml.build_scoring_pipeline().fit(train)
    pred = model.transform(test).select("label", "prediction")
    rows = pred.collect()
    acc = sum(1 for r in rows if r["label"] == r["prediction"]) / len(rows)
    counts = test.groupBy("label_type").count().collect()
    majority = max(c["count"] for c in counts) / sum(c["count"] for c in counts)
    assert acc > majority, (acc, majority)

    path = str(tmp_path / "model")
    model.write().overwrite().save(path)
    re_pred = PipelineModel.load(path).transform(test).select("label", "prediction").collect()
    assert sorted(map(tuple, re_pred)) == sorted(map(tuple, rows))


# ---------- algebraic invariants ----------


def test_semi_and_anti_partition_customer(spark, sf_dir):
    total = load_table(spark, sf_dir, "customer").count()
    semi = set(r["c_custkey"] for r in joins.join_semi(spark, sf_dir).collect())
    anti = set(r["c_custkey"] for r in joins.join_anti(spark, sf_dir).collect())
    orders = load_table(spark, sf_dir, "orders")
    f_cust = {
        r["o_custkey"]
        for r in orders.where("o_orderstatus = 'F'").select("o_custkey").distinct().collect()
    }
    assert semi == f_cust
    assert not (anti & {r[0] for r in orders.select("o_custkey").distinct().collect()})
    assert len(anti) == total - orders.select("o_custkey").distinct().count()


def test_rollup_grand_total_matches_global_sum(spark, sf_dir):
    roll = aggregates.agg_rollup(spark, sf_dir)
    grand = roll.where("g_region = 1 AND g_nation = 1").collect()
    assert len(grand) == 1
    from cortana_intelligence_customer360_spark.compat import dsum

    total = load_table(spark, sf_dir, "orders").agg(dsum("o_totalprice").alias("t")).collect()
    assert grand[0]["revenue"] == total[0]["t"]


def test_running_sum_final_equals_group_total(spark, sf_dir):
    run = windows.win_running_sum(spark, sf_dir)
    final = run.groupBy("o_custkey").agg(F.max("cum_spend").alias("final"))
    rfm = feat.feat_rfm(spark, sf_dir).select(
        F.col("o_custkey").alias("k"), "monetary"
    )
    diff = (
        final.join(rfm, final.o_custkey == rfm.k)
        .where(F.abs(F.col("final") - F.col("monetary")) > 1e-9)
        .count()
    )
    assert diff == 0


def test_dedup_exact_idempotent_and_covers(spark, sf_dir):
    d = dedup.dedup_exact(spark, sf_dir)
    rows = d.collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_dups"] for r in rows) == n_docs
    assert len({r["keep_id"] for r in rows}) == len(rows)


def test_dedup_cluster_is_consistent_partition(spark, sf_dir):
    clusters = {
        r["doc_id"]: r["cluster_id"] for r in dedup.dedup_cluster(spark, sf_dir).collect()
    }
    pairs = [(r["a_id"], r["b_id"]) for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()]
    for a, b in pairs:  # connected docs share a cluster
        assert clusters[a] == clusters[b], (a, b)
    # every cluster id is the min member of its component
    members: dict[int, list[int]] = {}
    for d, c in clusters.items():
        members.setdefault(c, []).append(d)
    for c, ds in members.items():
        assert c == min(ds)


def test_union_sets_consistent(spark, sf_dir):
    uni = setops.set_union_distinct(spark, sf_dir).count()
    inter = setops.set_intersect(spark, sf_dir).count()
    orders_keys = (
        load_table(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    events_keys = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert uni == orders_keys + events_keys - inter


# ---------- micro-fixtures (FIXTURES.md) ----------


def _mk_events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )


def test_sessionize_exact_gap_boundary(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 7, "click", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=29, seconds=59), 7, "view", 1.0, "{}"),
        (3, t0 + dt.timedelta(minutes=59, seconds=59), 7, "view", 1.0, "{}"),  # gap 30:00 exact
        (4, t0 + dt.timedelta(minutes=95), 7, "click", 1.0, "{}"),  # gap 35:01 -> new
    ]
    sess = feat.sessionized(_mk_events(spark, rows)).select("event_id", "session_id").collect()
    by_id = {r["event_id"]: r["session_id"] for r in sess}
    # strict '>30min' semantics: the exact 30:00 gap stays in session 1
    assert by_id[1] == by_id[2] == by_id[3]
    assert by_id[4] == by_id[3] + 1


def test_asof_order_before_first_event_keeps_null(spark):
    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)
    events = _mk_events(spark, [(1, t0, 5, "click", 1.0, "{}"), (2, t0, 6, "view", 1.0, "{}")])
    orders = spark.createDataFrame(
        [
            (100, 5, "O", 10.0, dt.datetime(2024, 1, 9), "1-URGENT"),   # before -> match
            (101, 6, "O", 20.0, dt.datetime(2024, 1, 11), "1-URGENT"),  # after -> no match
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    out = {r["event_id"]: r for r in joins.asof_enrich(events, orders).collect()}
    assert out[1]["asof_orderkey"] == 100
    assert out[2]["asof_orderkey"] is None and out[2]["asof_totalprice"] is None


def test_asof_tie_on_date_takes_max_orderkey(spark):
    t0 = dt.datetime(2024, 1, 10)
    events = _mk_events(spark, [(1, t0, 5, "click", 1.0, "{}")])
    orders = spark.createDataFrame(
        [(100, 5, "O", 10.0, t0, "1-URGENT"), (101, 5, "O", 20.0, t0, "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    out = joins.asof_enrich(events, orders).collect()
    assert out[0]["asof_orderkey"] == 101  # equal date ties -> max key; <= includes same-instant


def test_dedup_exact_micro(spark, sf_dir, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "Hello World", "en", "s", 11),
            (2, "  hello world ", "en", "s", 14),  # case/space variant
            (3, "something else", "en", "s", 14),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    keyed = docs.select("doc_id", F.md5(F.lower(F.trim("text"))).alias("text_key"))
    keys = keyed.groupBy("text_key").agg(F.min("doc_id").alias("keep_id")).collect()
    assert len(keys) == 2
    assert {r["keep_id"] for r in keys} == {1, 3}


def test_star_components_deep_chain_and_rings(spark):
    """Large-star/small-star must converge on structures far deeper
    than the corpus's pair chains: a 30-node chain (diameter 29), a
    ring, a star, and isolated nodes — every node must label with its
    component minimum, which min-label propagation would need ~30
    rounds to reach but LS/SS reaches in O(log^2 n)."""
    chain = [(i, i + 1) for i in range(100, 129)]          # component min 100
    ring = [(200, 201), (201, 202), (202, 203), (203, 200)]  # min 200
    star = [(307, 300), (307, 301), (307, 302)]             # min 300
    nodes = sorted(
        {x for e in chain + ring + star for x in e} | {400, 401}  # isolated
    )
    docs = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
    pairs = spark.createDataFrame(chain + ring + star, "a_id long, b_id long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup._star_components(docs, pairs).collect()
    }
    for n in range(100, 130):
        assert got[n] == 100, (n, got[n])
    for n in (200, 201, 202, 203):
        assert got[n] == 200
    for n in (300, 301, 302, 307):
        assert got[n] == 300
    assert got[400] == 400 and got[401] == 401


def test_star_components_empty_edges(spark):
    docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
    pairs = spark.createDataFrame([], "a_id long, b_id long")
    got = {r["doc_id"]: r["cluster_id"] for r in dedup._star_components(docs, pairs).collect()}
    assert got == {1: 1, 2: 2}


def test_misra_gries_candidates_cover_true_heavies():
    """MG guarantee: after the batched-decrement sketch, every word
    with true count > n/(K+1) must survive as a candidate — checked on
    an adversarial stream (one heavy word drip-fed among churn)."""
    import pandas as pd
    from cortana_intelligence_customer360_spark.llmops import text as t

    # 40k filler words all distinct (max churn) + 2k of one heavy word
    # interleaved across batches.
    batches = []
    for b in range(20):
        filler = [f"w{b}_{i}" for i in range(2000)]
        heavy = ["HEAVY"] * 100
        batches.append(pd.DataFrame({"word": filler + heavy}))
    out = pd.concat(list(t._mg_sketch(iter(batches))))
    n = 20 * 2100
    assert n / (t._HH_K + 1) < 2000  # heavy (2000) is above the bound
    assert "HEAVY" in set(out["word"]), "true heavy hitter pruned by sketch"


def test_scd2_pit_join_matches_every_order_exactly_once(spark, sf_dir):
    """Temporal-join self-validation: validity boundaries are order
    dates, so every order matches exactly one SCD2 version and that
    version carries the order's own priority."""
    from cortana_intelligence_customer360_spark.operators import merge
    from cortana_intelligence_customer360_spark.sources.tables import load_table

    pit = merge.scd2_pointintime_join(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    n_orders = orders.count()
    assert pit.count() == n_orders, "temporal join dropped or duplicated orders"
    assert pit.select("o_orderkey").distinct().count() == n_orders
    mismatch = (
        pit.join(orders, "o_orderkey")
        .where(F.col("priority") != F.col("o_orderpriority"))
        .count()
    )
    assert mismatch == 0, "an order matched a version from a different run"


def test_pagerank_mass_conservation(spark, sf_dir):
    """With a symmetric (dangling-free) graph, damped PageRank
    preserves total probability mass: ranks sum to 1 (up to the 9 dp
    output rounding), and every rank is positive."""
    from cortana_intelligence_customer360_spark.operators import graph

    rows = graph.graph_pagerank(spark, sf_dir).collect()
    total = sum(r["rank"] for r in rows)
    assert abs(total - 1.0) < 1e-5, total
    assert all(r["rank"] > 0 for r in rows)


def test_sketch_merge_matches_single_pass_and_exact(spark, sf_dir):
    """Merging per-half HLL sketches must (a) estimate within 5% of the
    exact distinct count and (b) agree with a single-pass sketch built
    over the whole stream — the mergeability property that lets a
    pipeline re-aggregate from stored sketches instead of raw events."""
    from cortana_intelligence_customer360_spark.operators import aggregates
    from cortana_intelligence_customer360_spark.sources.tables import load_table

    merged = {
        r["event_type"]: r["merged_users"]
        for r in aggregates.agg_sketch_merge(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    single = {
        r["event_type"]: r["est"]
        for r in ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
            .cast("long")
            .alias("est")
        )
        .collect()
    }
    for et, n in exact.items():
        assert abs(merged[et] - n) <= max(2, 0.05 * n), (et, merged[et], n)
        assert merged[et] == single[et], "merge of halves != single-pass sketch"


# ---------- training-data pipeline ops (llmops/pipeline.py) ----------


def test_chunks_reconstruct_documents(spark, sf_dir):
    """Dropping each chunk's overlap tail (keep the first `stride`
    tokens; the final chunk keeps everything) and concatenating in
    chunk order must reproduce every document exactly."""
    from cortana_intelligence_customer360_spark.llmops import pipeline as pl

    chunks = pl.text_chunk_overlap(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("chunk_id")
    rebuilt = (
        chunks.withColumn("nxt", F.lead("chunk_id").over(w))
        .withColumn(
            "head",
            F.when(
                F.col("nxt").isNull(), F.col("chunk_text")
            ).otherwise(
                F.concat_ws(
                    " ",
                    F.slice(F.split("chunk_text", " "), 1, pl._CHUNK_STRIDE),
                )
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_id", "head"))),
                    lambda s: s["head"],
                ),
            ).alias("rebuilt")
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bad = (
        rebuilt.join(docs, "doc_id")
        .where(F.col("rebuilt") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_pack_sequences_invariants(spark, sf_dir):
    """Every doc's offset is < CTX; within a (bucket, pack) the docs
    are doc_id-ordered with contiguous token extents; total tokens are
    conserved across packs."""
    from cortana_intelligence_customer360_spark.llmops import pipeline as pl

    packed = pl.text_pack_sequences(spark, sf_dir).cache()
    try:
        assert packed.where(F.col("pack_offset") >= pl._PACK_CTX).count() == 0
        assert packed.where(
            F.col("pack_id") != F.col("bucket") * 1_000_000
            + (F.col("pack_id") % 1_000_000)
        ).count() == 0
        # Contiguity: within a bucket, cum offsets rebuild from doc order.
        w = Window.partitionBy("bucket").orderBy("doc_id")
        chk = packed.withColumn(
            "cum", F.coalesce(
                F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
        )
        bad = chk.where(
            (F.col("cum") % pl._PACK_CTX) != F.col("pack_offset")
        ).count()
        assert bad == 0
        n_docs = load_table(spark, sf_dir, "documents").count()
        assert packed.count() == n_docs
    finally:
        packed.unpersist()


def test_contamination_is_train_vs_bench_only(spark, sf_dir):
    """No pair may have a bench doc on the train side or vice versa,
    and containment is in (0, 1]."""
    from cortana_intelligence_customer360_spark.llmops import pipeline as pl

    pairs = pl.text_contamination(spark, sf_dir).cache()
    try:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
        bench_ids = docs.where(F.col("source").isin(*pl._BENCH_SOURCES))
        joined = pairs.join(
            bench_ids.withColumnRenamed("doc_id", "train_id"), "train_id", "left_semi"
        )
        assert joined.count() == 0
        assert pairs.where(
            (F.col("containment") <= 0) | (F.col("containment") > 1)
        ).count() == 0
    finally:
        pairs.unpersist()


def test_binary_files_roundtrip_bytes(spark, sf_dir):
    """The binaryFile re-read must agree with a direct recomputation
    from the source table (md5 over text + trailing newline)."""
    from cortana_intelligence_customer360_spark.operators import scans
    from cortana_intelligence_customer360_spark.sources.derived import scratch_dir

    got = scans.scan_binary_files(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").where(F.col("source") == "src0")
    want = docs.select(
        "doc_id",
        (F.length("text") + 1).cast("long").alias("n_bytes"),
        F.md5(F.concat(F.col("text"), F.lit("\n"))).alias("digest"),
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_time_bucket_rollup_derivation_consistent(spark, sf_dir):
    """Coarse grains derived from fine buckets must equal direct
    aggregation from raw events, and every grain conserves the total
    event count."""
    from cortana_intelligence_customer360_spark.operators import aggregates as agg

    roll = agg.agg_time_bucket_rollup(spark, sf_dir).cache()
    try:
        ev = load_table(spark, sf_dir, "events")
        totals = {
            r["grain"]: r["n"]
            for r in roll.groupBy("grain").agg(F.sum("n_events").alias("n")).collect()
        }
        n_raw = ev.count()
        assert totals == {"15m": n_raw, "1h": n_raw, "1d": n_raw}
        direct_1h = {
            (r["b"], r["event_type"]): r["n"]
            for r in ev.groupBy(
                F.unix_micros(F.date_trunc("hour", "ts")).alias("b"), "event_type"
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .collect()
        }
        rolled_1h = {
            (r["bucket_us"], r["event_type"]): r["n_events"]
            for r in roll.where(F.col("grain") == "1h").collect()
        }
        assert rolled_1h == direct_1h
    finally:
        roll.unpersist()


def test_stratified_sample_rates_and_determinism(spark, sf_dir):
    from cortana_intelligence_customer360_spark.operators import graph as g

    s1 = g.sample_stratified(spark, sf_dir)
    got = {
        r["event_type"]: r["n"]
        for r in s1.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    base = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got.get("purchase", 0) == base["purchase"]  # 100% stratum kept whole
    for et, pm in g._STRATA_PERMILLE.items():
        if pm == 1000:
            continue
        # md5 buckets are uniform: observed rate within 5 sigma.
        n, p = base[et], pm / 1000.0
        sigma = (n * p * (1 - p)) ** 0.5
        assert abs(got.get(et, 0) - n * p) <= 5 * sigma, (et, got.get(et), n * p)
    # Determinism: a second run selects the identical row set.
    s2 = g.sample_stratified(spark, sf_dir)
    assert s1.exceptAll(s2).count() == 0 and s2.exceptAll(s1).count() == 0


def test_fuzzy_blocked_join_stays_in_block(spark, sf_dir):
    from cortana_intelligence_customer360_spark.operators import joins

    pairs = joins.join_fuzzy_blocked(spark, sf_dir).collect()
    assert pairs, "fixture should produce at least one near-match pair"
    for r in pairs:
        assert r["name_a"].split(" ")[0] == r["block"]
        assert r["name_b"].split(" ")[0] == r["block"]
        assert r["name_a"] < r["name_b"]
        assert 1 <= r["distance"] <= 3


def test_spatial_grid_equals_bruteforce(spark, sf001_dir):
    """The 3x3-neighbor grid rewrite must find EXACTLY the all-pairs
    result: no boundary pair lost to cell quantization, none duplicated
    by the replication. sf0.01: the 150 points of sf0.001 scatter too
    sparsely over the 1000x1000 plane to produce any qualifying pair."""
    from pyspark.sql import functions as F

    from cortana_intelligence_customer360_spark.operators import spatial

    sf_dir = sf001_dir
    got = {
        (r["pid_a"], r["pid_b"], r["dist2"])
        for r in spatial.join_spatial_grid(spark, sf_dir).collect()
    }
    pts = spatial._points(spark, sf_dir)
    a = pts.toDF("pid_a", "xa", "ya")
    b = pts.toDF("pid_b", "xb", "yb")
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    brute = {
        (r["pid_a"], r["pid_b"], r["d2"])
        for r in a.crossJoin(b)
        .where((F.col("pid_a") < F.col("pid_b")) & (d2 <= spatial._R * spatial._R))
        .select("pid_a", "pid_b", d2.alias("d2"))
        .collect()
    }
    assert got == brute and len(got) > 0


def test_cdc_apply_last_writer_wins(spark, sf_dir):
    """For a key with several log records the surviving balance must
    come from the highest-seq record, and deleted keys must vanish."""
    from pyspark.sql import functions as F

    from cortana_intelligence_customer360_spark.operators import merge

    log = merge._cdc_log(spark, sf_dir).cache()
    out = merge.cdc_apply_log(spark, sf_dir).cache()
    # highest-seq record per key decides
    latest = (
        log.orderBy(F.col("seq").desc())
        .groupBy("key")
        .agg(F.first("op").alias("op"), F.first("new_bal").alias("new_bal"))
    )
    deleted = {r["key"] for r in latest.where(F.col("op") == "D").collect()}
    assert deleted, "fixture must exercise deletes"
    out_keys = {r["key"] for r in out.collect()}
    assert not (deleted & out_keys)
    upd = (
        out.join(latest.where(F.col("op") != "D"), "key")
        .where(F.round(F.col("acctbal"), 6) != F.round(F.col("new_bal"), 6))
        .count()
    )
    assert upd == 0
    log.unpersist()
    out.unpersist()


def test_error_burst_runs_are_maximal_and_correct(spark, sf_dir):
    """Every reported burst must be a maximal consecutive-error run:
    recompute runs in plain Python from the sorted stream and compare
    exactly."""
    from pyspark.sql import functions as F

    from cortana_intelligence_customer360_spark.operators.windows import (
        win_error_burst,
    )
    from cortana_intelligence_customer360_spark.sources.tables import load_table
    from cortana_intelligence_customer360_spark.compat import epoch_us

    got = {
        (r["user_id"], r["start_us"], r["end_us"], r["n_errors"])
        for r in win_error_burst(spark, sf_dir).collect()
    }
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", epoch_us("ts").alias("t"), "event_id", "event_type")
        .orderBy("user_id", "t", "event_id")
        .collect()
    )
    want = set()
    run: list = []
    prev_user = None
    for r in ev:
        if r["user_id"] != prev_user or r["event_type"] != "error":
            if len(run) >= 3:
                want.add((prev_user, run[0], run[-1], len(run)))
            run = []
        if r["event_type"] == "error":
            run.append(r["t"])
        prev_user = r["user_id"]
    if len(run) >= 3:
        want.add((prev_user, run[0], run[-1], len(run)))
    assert got == want and len(got) > 0


def test_asof_nearest_picks_closer_side(spark, sf_dir):
    """The nearest join must agree with the naive per-event candidate
    computation (join + row_number) on every event."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cortana_intelligence_customer360_spark.operators import joins
    from cortana_intelligence_customer360_spark.compat import epoch_us
    from cortana_intelligence_customer360_spark.sources.tables import load_table

    out = joins.join_asof_nearest(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", epoch_us("ts").alias("ts_us")
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        "o_orderkey",
        epoch_us("o_orderdate").alias("t_us"),
    )
    j = ev.join(o, "user_id", "left")
    wb = Window.partitionBy("event_id").orderBy(
        F.col("t_us").desc(), F.col("o_orderkey").desc()
    )
    bwd = (
        j.where(F.col("t_us") <= F.col("ts_us"))
        .withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") == 1)
        .select("event_id", F.col("o_orderkey").alias("bk"), F.col("t_us").alias("bt"))
    )
    wf = Window.partitionBy("event_id").orderBy(
        F.col("t_us").asc(), F.col("o_orderkey").asc()
    )
    fwd = (
        j.where(F.col("t_us") > F.col("ts_us"))
        .withColumn("rn", F.row_number().over(wf))
        .where(F.col("rn") == 1)
        .select("event_id", F.col("o_orderkey").alias("fk"), F.col("t_us").alias("ft"))
    )
    ref = (
        ev.join(bwd, "event_id", "left")
        .join(fwd, "event_id", "left")
        .select(
            "event_id",
            F.when(
                F.col("bk").isNotNull()
                & (
                    F.col("fk").isNull()
                    | ((F.col("ts_us") - F.col("bt")) <= (F.col("ft") - F.col("ts_us")))
                ),
                F.col("bk"),
            )
            .otherwise(F.col("fk"))
            .alias("want_key"),
        )
    )
    diff = (
        out.join(ref, "event_id")
        .where(
            ~(
                (F.col("near_orderkey") == F.col("want_key"))
                | (F.col("near_orderkey").isNull() & F.col("want_key").isNull())
            )
        )
        .count()
    )
    assert diff == 0


def test_canonical_pick_one_keeper_per_cluster(spark, sf_dir):
    from pyspark.sql import functions as F

    from cortana_intelligence_customer360_spark.llmops import dedup
    from cortana_intelligence_customer360_spark.sources.tables import load_table

    out = dedup.dedup_canonical_pick(spark, sf_dir).cache()
    per = out.groupBy("cluster_id").agg(
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.countDistinct("canonical_id").alias("n_canon"),
    )
    assert per.where((F.col("n_keep") != 1) | (F.col("n_canon") != 1)).count() == 0
    # the canonical doc is never shorter than any cluster member
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    m = (
        out.join(docs, "doc_id")
        .join(
            docs.select(
                F.col("doc_id").alias("canonical_id"),
                F.col("n_chars").alias("canon_chars"),
            ),
            "canonical_id",
        )
        .where(F.col("n_chars") > F.col("canon_chars"))
        .count()
    )
    assert m == 0
    out.unpersist()


def test_compaction_produces_few_files_and_keeps_rows(spark, sf_dir):
    """The compacted layout must actually be compact (one file per
    shard, 32 -> 4) and lossless (row count preserved)."""
    import glob
    import os

    from cortana_intelligence_customer360_spark.operators import scans
    from cortana_intelligence_customer360_spark.sources.derived import scratch_dir

    out = scans.maint_compact_small_files(spark, sf_dir)
    total = sum(r["n_rows"] for r in out.collect())
    src_rows = load_table(spark, sf_dir, "events").count()
    assert total == src_rows
    frag = scratch_dir("maint_frag_events", sf_dir)
    comp = scratch_dir("maint_compact_events", sf_dir)
    n_small = len(glob.glob(os.path.join(frag, "part-*.parquet")))
    n_comp = len(glob.glob(os.path.join(comp, "shard=*", "part-*.parquet")))
    assert n_small == 32
    assert n_comp == scans._COMPACT_SHARDS


def test_session_paths_consistent_with_sessionize(spark, sf_dir):
    """Top-path counts can't exceed the total session count, and every
    path is composed of real event types."""
    from cortana_intelligence_customer360_spark.features import core
    from cortana_intelligence_customer360_spark.sources.tables import EVENT_TYPES

    rows = core.feat_session_paths(spark, sf_dir).collect()
    assert 0 < len(rows) <= core._N_TOP_PATHS
    n_sessions = sum(
        r["n_sessions"] for r in feat.feat_sessionize(spark, sf_dir).collect()
    )
    assert sum(r["n_sessions"] for r in rows) <= n_sessions
    for r in rows:
        assert set(r["path"].split(">")) <= set(EVENT_TYPES)


def test_bernoulli_sample_deterministic_and_in_bounds(spark, sf_dir):
    """Fixed seed + fixed input layout => identical sample across runs;
    fraction lands within 4-sigma binomial bounds."""
    from cortana_intelligence_customer360_spark.operators import graph

    a = {r["o_orderkey"] for r in graph.sample_bernoulli_seeded(spark, sf_dir).collect()}
    b = {r["o_orderkey"] for r in graph.sample_bernoulli_seeded(spark, sf_dir).collect()}
    assert a == b
    n = load_table(spark, sf_dir, "orders").count()
    mu, sigma = 0.1 * n, (0.1 * 0.9 * n) ** 0.5
    assert abs(len(a) - mu) < 4 * sigma, (len(a), n)


def test_corpus_curation_verdict_distribution(spark, sf_dir):
    """The curation audit must exercise every gate on the synthetic
    corpus (planted near-dups guarantee near_dup/exact_dup verdicts)
    and keep a majority of documents."""
    from cortana_intelligence_customer360_spark.llmops import pipeline

    out = pipeline.pipeline_corpus_curation(spark, sf_dir).collect()
    by = {}
    for r in out:
        by[r["verdict"]] = by.get(r["verdict"], 0) + 1
    total = sum(by.values())
    assert total == load_table(spark, sf_dir, "documents").count()
    assert by.get("kept", 0) > 0.5 * total, by
    assert by.get("near_dup", 0) > 0, by
    assert by.get("quality", 0) > 0, by


def test_triangle_count_invariants(spark, sf001_dir):
    """Total participations = 3 x triangle count (each triangle touches
    exactly 3 nodes), and a brute-force recount over the edge list
    agrees."""
    from itertools import combinations

    from cortana_intelligence_customer360_spark.operators import spatial

    sf_dir = sf001_dir
    pts = spatial._points(spark, sf_dir)
    edges = {
        (r["pid_a"], r["pid_b"])
        for r in spatial._pairs_within(pts, spatial._TRI_R).collect()
    }
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    want = 0
    for a, nbrs in adj.items():
        for b, c in combinations(sorted(nbrs), 2):
            if c in adj.get(b, set()):
                want += 1
    got = {
        r["node"]: r["n_triangles"]
        for r in spatial.graph_triangle_count(spark, sf_dir).collect()
    }
    assert sum(got.values()) == 3 * want and want > 0


def test_knn_rewrite_equals_naive_on_clustered_corpus(spark):
    """On a clustered corpus the IVF substitute must return EXACTLY the
    naive plan's rows (same ids, same rounded cosines, same order) for
    every probe in the first cluster-free id range — the §4 rewrite is
    only admissible because this equality holds where IVF's recall
    contract does."""
    import numpy as np

    from cortana_intelligence_customer360_spark.llmops import similarity
    from cortana_intelligence_customer360_spark.plans.rewrite import (
        knn_orderby_frame,
        rewrite_knn,
    )

    rng = np.random.default_rng(19)
    centers = rng.normal(size=(8, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = centers[np.arange(240) % 8] + 0.12 * rng.normal(size=(240, 32))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in pts[i]], int(i % 8)) for i in range(240)],
        "vec_id long, embedding array<float>, label int",
    )
    indexed, centroids = similarity.fit_ivf_frames(emb, k=8)
    for probe_id in (0, 3):
        naive = knn_orderby_frame(emb, probe_id=probe_id, k=5)
        rewritten = rewrite_knn(naive, indexed, centroids, nprobe=2)
        assert rewritten is not naive
        want = [(r["neighbor_id"], r["cosine"]) for r in naive.collect()]
        got = [(r["neighbor_id"], r["cosine"]) for r in rewritten.collect()]
        assert got == want, (probe_id, got, want)


# ---------- attribution / churn / audience (features.attribution) ----------


def test_attribution_micro_first_last_and_direct(spark, tmp_path):
    """view->click->purchase->purchase: purchase 1 gets last=click,
    first=view; purchase 2 ALSO gets last=click (the prior purchase is
    not a touch). A touchless purchaser attributes to 'direct'."""
    from cortana_intelligence_customer360_spark.features import attribution as attr

    t0 = dt.datetime(2024, 1, 5)
    rows = [
        (1, 10, t0, "view", 1.0, "{}"),
        (2, 10, t0 + dt.timedelta(minutes=1), "click", 2.0, "{}"),
        (3, 10, t0 + dt.timedelta(minutes=2), "purchase", 10.0, "{}"),
        (4, 10, t0 + dt.timedelta(minutes=3), "purchase", 20.0, "{}"),
        (5, 11, t0, "purchase", 5.0, "{}"),  # no prior touch -> direct
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "attr")
    ev.write.parquet(f"{d}/events.parquet")
    out = {r["channel"]: r for r in attr.feat_attribution_touch(spark, d).collect()}
    assert out["click"]["n_last_touch"] == 2
    assert out["click"]["rev_last_touch"] == pytest.approx(30.0)
    assert out["view"]["n_first_touch"] == 2
    assert out["direct"]["n_last_touch"] == 1
    assert out["direct"]["n_first_touch"] == 1
    assert out.get("view", {})["n_last_touch"] == 0


def test_churn_label_split_semantics(spark, tmp_path):
    """Obs-only user -> churned=1; obs+label user -> churned=0;
    label-only user excluded from the output entirely."""
    from cortana_intelligence_customer360_spark.features import attribution as attr

    obs_t = dt.datetime(2024, 1, 10)
    lab_t = dt.datetime(2024, 1, 28)
    rows = [
        (1, 1, obs_t, "view", 1.0, "{}"),
        (2, 2, obs_t, "view", 1.0, "{}"),
        (3, 2, lab_t, "click", 1.0, "{}"),
        (4, 3, lab_t, "view", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "churn")
    ev.write.parquet(f"{d}/events.parquet")
    out = {r["user_id"]: r for r in attr.feat_churn_label(spark, d).collect()}
    assert set(out) == {1, 2}
    assert out[1]["churned"] == 1 and out[2]["churned"] == 0
    assert out[1]["n_obs"] == 1 and out[2]["n_obs"] == 1


def test_audience_overlap_jaccard_bounds(spark, sf_dir):
    from cortana_intelligence_customer360_spark.features import attribution as attr

    rows = attr.feat_audience_overlap(spark, sf_dir).collect()
    assert rows, "no audience pairs"
    for r in rows:
        assert r["type_a"] < r["type_b"]
        assert 0 < r["n_both"] <= min(r["n_a"], r["n_b"])
        assert 0.0 <= r["jaccard"] <= 1.0


# ---------- z-order layout ----------


def test_zorder_key_interleaves_bits(spark):
    """zorder_key(1,0)=1, zorder_key(0,1)=2, zorder_key(3,5)=0b100111."""
    df = spark.range(1).select(
        setops.zorder_key(F.lit(1), F.lit(0)).alias("a"),
        setops.zorder_key(F.lit(0), F.lit(1)).alias("b"),
        setops.zorder_key(F.lit(3), F.lit(5)).alias("c"),
        setops.zorder_key(F.lit(0xFFFF), F.lit(0xFFFF)).alias("d"),
    )
    r = df.collect()[0]
    assert (r["a"], r["b"], r["c"]) == (1, 2, 0b100111)
    assert r["d"] == 0xFFFFFFFF


def test_zorder_layout_shrinks_both_dim_spans(spark, sf001_dir, tmp_path):
    """Writing lineitem range-partitioned+sorted by the z-key must give
    per-file min/max spans on BOTH l_partkey and l_suppkey that are
    materially narrower than the natural insertion layout — the data-
    skipping property the operator exists for. (sf0.01: sf0.001's 10
    suppliers leave no span to shrink.)"""
    li = load_table(spark, sf001_dir, "lineitem").select("l_partkey", "l_suppkey")
    row = li.agg(
        F.min("l_partkey"), F.max("l_partkey"), F.min("l_suppkey"), F.max("l_suppkey")
    ).collect()[0]
    mn_p, mx_p, mn_s, mx_s = row
    zkey = setops.zorder_key(
        setops.scale16(F.col("l_partkey"), F.lit(mn_p), F.lit(mx_p)),
        setops.scale16(F.col("l_suppkey"), F.lit(mn_s), F.lit(mx_s)),
    )
    nfiles = 16
    zdir, ndir = str(tmp_path / "z"), str(tmp_path / "n")
    (
        li.withColumn("zkey", zkey)
        .repartitionByRange(nfiles, "zkey")
        .sortWithinPartitions("zkey")
        .drop("zkey")
        .write.parquet(zdir)
    )
    li.repartition(nfiles).write.parquet(ndir)

    def mean_span(path: str, col: str) -> float:
        import pyspark.sql.functions as SF

        spans = (
            spark.read.parquet(path)
            .withColumn("f", SF.input_file_name())
            .groupBy("f")
            .agg((SF.max(col) - SF.min(col)).alias("span"))
            .collect()
        )
        return sum(r["span"] for r in spans) / len(spans)

    for col in ("l_partkey", "l_suppkey"):
        z, n = mean_span(zdir, col), mean_span(ndir, col)
        assert z < 0.5 * n, (col, z, n)


# ---------- MAD anomaly ----------


def test_mad_constant_series_and_planted_outlier(spark, tmp_path):
    from cortana_intelligence_customer360_spark.operators import timeseries as ts

    t0 = dt.datetime(2024, 1, 5)
    rows = [(i, 1, t0 + dt.timedelta(minutes=i), "view", 7.0, "{}") for i in range(9)]
    rows += [
        (100 + i, 2, t0 + dt.timedelta(minutes=i), "view", float(v), "{}")
        for i, v in enumerate([10, 11, 9, 10, 12, 10, 11, 9, 500])
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "mad")
    ev.write.parquet(f"{d}/events.parquet")
    out = {r["user_id"]: r for r in ts.ts_anomaly_mad(spark, d).collect()}
    assert out[1]["mad"] == 0.0 and out[1]["n_anomalies"] == 0
    assert out[2]["n_anomalies"] == 1  # the 500 spike, and only it


# ---------- text token/repetition ----------


def test_repetition_ratio_known_string(spark, tmp_path):
    from cortana_intelligence_customer360_spark.llmops import text as tx

    docs = spark.createDataFrame(
        [
            (0, "a b a b a b", "en", "src0", 11),   # bigrams: 5, distinct 2
            (1, "u v w x y z", "en", "src0", 11),   # no repetition
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "rep")
    docs.write.parquet(f"{d}/documents.parquet")
    out = {r["doc_id"]: r for r in tx.text_repetition_ratio(spark, d).collect()}
    assert out[0]["n_tokens"] == 6
    assert out[0]["distinct_ratio"] == pytest.approx(2 / 6, abs=1e-6)
    assert out[0]["dup_bigram_frac"] == pytest.approx(3 / 5, abs=1e-6)
    assert out[0]["top_token_frac"] == pytest.approx(3 / 6, abs=1e-6)
    assert out[1]["distinct_ratio"] == 1.0
    assert out[1]["dup_bigram_frac"] == 0.0


def test_token_count_bpeish_chunking(spark, tmp_path):
    from cortana_intelligence_customer360_spark.llmops import text as tx

    docs = spark.createDataFrame(
        [(0, "spark join merge", "en", "src0", 16)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "tok")
    docs.write.parquet(f"{d}/documents.parquet")
    r = tx.text_token_count(spark, d).collect()[0]
    # spar|k, join, merg|e -> 5 BPE-ish chunks, 3 whitespace tokens
    assert r["n_ws_tokens"] == 3 and r["n_bpeish_tokens"] == 5


# ---------- batch-2: reservoir / conversion / exemplars ----------


def test_reservoir_fixed_size_and_deterministic(spark, sf_dir):
    from cortana_intelligence_customer360_spark.operators.graph import (
        _RESERVOIR_K,
        sample_reservoir_per_group,
    )

    a = sample_reservoir_per_group(spark, sf_dir).collect()
    b = sample_reservoir_per_group(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_type = {}
    for r in a:
        by_type.setdefault(r["event_type"], []).append(r["rank"])
    for et, ranks in by_type.items():
        assert sorted(ranks) == list(range(1, _RESERVOIR_K + 1)), et


def test_time_to_convert_excludes_pre_view_purchase(spark, tmp_path):
    from cortana_intelligence_customer360_spark.features.attribution import (
        feat_time_to_convert,
    )

    t0 = dt.datetime(2024, 1, 5)
    rows = [
        # user 1: purchase BEFORE first view, then view, then purchase
        (1, 1, t0, "purchase", 5.0, "{}"),
        (2, 1, t0 + dt.timedelta(hours=1), "view", 0.0, "{}"),
        (3, 1, t0 + dt.timedelta(hours=3), "purchase", 9.0, "{}"),
        # user 2: view only, never converts
        (4, 2, t0, "view", 0.0, "{}"),
        # user 3: purchase only, no view -> not in output at all
        (5, 3, t0, "purchase", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "ttc")
    ev.write.parquet(f"{d}/events.parquet")
    out = {r["user_id"]: r for r in feat_time_to_convert(spark, d).collect()}
    assert set(out) == {1, 2}
    assert out[1]["hours_to_convert"] == pytest.approx(2.0)
    assert out[1]["converted"] == 1
    assert out[2]["first_purchase_us"] is None and out[2]["converted"] == 0


def test_conversion_ci_brackets_rate(spark, sf_dir):
    from cortana_intelligence_customer360_spark.features.attribution import (
        agg_conversion_ci,
    )

    rows = agg_conversion_ci(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["ci_lo"] <= r["conv_rate"] <= r["ci_hi"] <= 1.0
        assert r["n_converted"] <= r["n_users"]


def test_exemplars_minimize_centroid_distance(spark, sf_dir):
    """The rank-1 exemplar per label must have the smallest
    dist_to_centroid among that label's vectors (dot to a rounded
    centroid and L2 to it agree on the argmax for normalized inputs up
    to rounding; verify via the distance frame directly)."""
    from cortana_intelligence_customer360_spark.llmops.similarity import (
        emb_exemplar_topk,
        sim_centroid_by_label,
    )

    dist = {
        (r["label"], r["vec_id"]): r["dist_to_centroid"]
        for r in sim_centroid_by_label(spark, sf_dir).collect()
    }
    best = {}
    for (label, vec_id), dv in dist.items():
        if label not in best or dv < best[label][0]:
            best[label] = (dv, vec_id)
    top = {
        r["label"]: r["vec_id"]
        for r in emb_exemplar_topk(spark, sf_dir).collect()
        if r["rank"] == 1
    }
    for label, vec_id in top.items():
        # allow dot/L2 disagreement only within rounding slack
        assert dist[(label, vec_id)] <= best[label][0] + 1e-4, (
            label,
            vec_id,
            dist[(label, vec_id)],
            best[label],
        )


# ---------- batch-3: bigram LM / t-test / changepoint ----------


def test_bigram_logprob_penalizes_novel_sequences(spark, tmp_path):
    from cortana_intelligence_customer360_spark.llmops.scoring import (
        text_bigram_logprob,
    )

    rep = " ".join(["x y"] * 20)                      # one hot bigram
    uniq = " ".join(f"t{i}" for i in range(40))       # every bigram unique
    docs = spark.createDataFrame(
        [(0, rep, "en", "src0", len(rep)), (1, uniq, "en", "src0", len(uniq))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "bg")
    docs.write.parquet(f"{d}/documents.parquet")
    out = {r["doc_id"]: r for r in text_bigram_logprob(spark, d).collect()}
    assert out[0]["n_bigrams"] == 39 and out[1]["n_bigrams"] == 39
    assert out[0]["avg_surprisal"] < out[1]["avg_surprisal"]


def test_ab_ttest_sign_and_df_bounds(spark, sf_dir):
    from cortana_intelligence_customer360_spark.features.attribution import (
        agg_ab_ttest,
    )

    r = agg_ab_ttest(spark, sf_dir).collect()[0]
    if r["mean_a"] != r["mean_b"]:
        assert (r["t_stat"] > 0) == (r["mean_a"] > r["mean_b"])
    assert min(r["n_a"], r["n_b"]) - 1 <= r["df_welch"] <= r["n_a"] + r["n_b"] - 2


def test_changepoint_finds_planted_level_shift(spark, tmp_path):
    from cortana_intelligence_customer360_spark.operators.timeseries import (
        ts_changepoint_split,
    )

    t0 = dt.datetime(2024, 1, 5)
    rows = [
        (i, 1, t0 + dt.timedelta(minutes=i), "view", 1.0 if i < 10 else 9.0, "{}")
        for i in range(20)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "cp")
    ev.write.parquet(f"{d}/events.parquet")
    out = ts_changepoint_split(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_before"] == 10 and r["n_after"] == 10
    assert r["delta"] == pytest.approx(8.0, abs=1e-6)


def test_winnowing_guarantee_shared_substring_shares_fingerprint(spark, tmp_path):
    """Winnowing's core guarantee: any shared token run of length
    >= k+w-1 (= 6 here) yields at least one shared selected hash,
    regardless of surrounding context. Disjoint docs share nothing."""
    from cortana_intelligence_customer360_spark.llmops import text as tx

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    a = "left context words " + shared + " tail a"
    b = "completely different prefix here " + shared
    c = "no overlap with anything at all whatsoever truly"
    docs = spark.createDataFrame(
        [(0, a, "en", "s", len(a)), (1, b, "en", "s", len(b)), (2, c, "en", "s", len(c))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "win")
    docs.write.parquet(f"{d}/documents.parquet")
    # recompute selected sets directly for the overlap assertion
    out = {r["doc_id"]: r for r in tx.text_winnowing(spark, d).collect()}
    assert out[0]["n_selected"] <= out[0]["n_kgrams"]
    # same sketch_fp iff same selected set; overlap needs the sets -
    # rebuild them via the same op on single-doc tables
    sets = {}
    for did, txt in ((0, a), (1, b), (2, c)):
        one = spark.createDataFrame(
            [(did, txt, "en", "s", len(txt))],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        p = str(tmp_path / f"w{did}")
        one.write.parquet(f"{p}/documents.parquet")
        row = tx.text_winnowing(spark, p).collect()[0]
        sets[did] = row["sketch_fp"]
    # a and b share the 8-token run: their full-doc sketches differ,
    # but the shared-substring guarantee is on selected HASHES; verify
    # via the pair's n_selected sum vs the union on a combined corpus
    both = spark.createDataFrame(
        [(0, a, "en", "s", len(a)), (1, b, "en", "s", len(b))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    pboth = str(tmp_path / "wboth")
    both.write.parquet(f"{pboth}/documents.parquet")
    rows = {r["doc_id"]: r for r in tx.text_winnowing(spark, pboth).collect()}
    # distinct-union bound: if no hash were shared the md5 sketches
    # would be independent; assert overlap by recomputing hash sets
    # with a tiny helper frame
    from pyspark.sql import functions as SF

    def sel_set(txt: str) -> set:
        one = spark.createDataFrame([(0, txt)], "doc_id long, text string")
        toks = SF.split("text", " ")
        df = one.select(SF.explode(SF.sequence(SF.lit(1), SF.size(toks) - 2)).alias("i"), toks.alias("t"))
        df = df.select(
            SF.conv(
                SF.substring(
                    SF.md5(
                        SF.concat_ws(
                            " ",
                            SF.element_at("t", SF.col("i")),
                            SF.element_at("t", SF.col("i") + 1),
                            SF.element_at("t", SF.col("i") + 2),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h")
        )
        hs = [r["h"] for r in df.collect()]
        return {min(hs[j : j + 4]) for j in range(len(hs) - 3)}

    sa, sb, sc = sel_set(a), sel_set(b), sel_set(c)
    assert sa & sb, "shared 8-token run must share a winnowed fingerprint"
    assert not (sa & sc) and not (sb & sc)


# ---------- batch-4: survival / chi-square / silhouette ----------


def test_survival_hazard_monotone_and_bounded(spark, sf_dir):
    from cortana_intelligence_customer360_spark.features.attribution import (
        feat_survival_hazard,
    )

    rows = feat_survival_hazard(spark, sf_dir).collect()
    assert rows
    by_seg = {}
    for r in rows:
        assert 0 < r["hazard"] <= 1.0
        assert r["d_at_t"] <= r["n_risk"]
        by_seg.setdefault(r["c_mktsegment"], []).append((r["t"], r["cum_hazard"]))
    for seg, pts in by_seg.items():
        pts.sort()
        cums = [c for _, c in pts]
        assert cums == sorted(cums), seg  # cumulative hazard non-decreasing


def test_chisq_nonnegative_and_cells(spark, sf_dir):
    from cortana_intelligence_customer360_spark.features.attribution import (
        agg_chisq_segments,
    )

    r = agg_chisq_segments(spark, sf_dir).collect()[0]
    assert r["chi2"] >= 0.0 and r["dof"] == 4
    assert r["n_cells"] <= 10


def test_silhouette_high_on_clustered_low_on_uniform(spark, sf_dir, tmp_path):
    """Tightly clustered vectors must score near 1; the driver's
    metric-uniform embeddings must score near 0 — the discriminating
    behavior that makes the metric useful."""
    import numpy as np

    from cortana_intelligence_customer360_spark.llmops.similarity import (
        emb_silhouette,
    )

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(4, 16)) * 5
    pts = centers[np.arange(200) % 4] + 0.1 * rng.normal(size=(200, 16))
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in pts[i]], int(i % 4)) for i in range(200)],
        "vec_id long, embedding array<float>, label int",
    )
    d = str(tmp_path / "sil")
    emb.write.parquet(f"{d}/embeddings.parquet")
    clustered = [r["mean_silhouette"] for r in emb_silhouette(spark, d).collect()]
    assert min(clustered) > 0.8, clustered
    uniform = [
        r["mean_silhouette"] for r in emb_silhouette(spark, sf_dir).collect()
    ]
    assert max(uniform) < 0.3, uniform


# ---------- batch-5: basket rules / nbo / asof tolerance ----------


def test_basket_rules_consistent_with_affinity(spark, sf_dir):
    from cortana_intelligence_customer360_spark.operators.joins import (
        feat_basket_affinity,
        feat_basket_rules,
    )

    aff = {
        (r["type_a"], r["type_b"]): r["n_orders"]
        for r in feat_basket_affinity(spark, sf_dir).collect()
    }
    rules = {
        (r["type_a"], r["type_b"]): r
        for r in feat_basket_rules(spark, sf_dir).collect()
    }
    for pair, n in aff.items():
        assert rules[pair]["n_ab"] == n
    for r in rules.values():
        assert 0 < r["support"] <= 1
        assert 0 < r["conf_a_b"] <= 1 and 0 < r["conf_b_a"] <= 1
        assert r["lift"] > 0


def test_next_best_offer_never_recommends_seen(spark, sf_dir):
    from cortana_intelligence_customer360_spark.features.attribution import (
        feat_next_best_offer,
    )
    from cortana_intelligence_customer360_spark.sources.tables import load_table

    seen = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    ):
        seen.setdefault(r["user_id"], set()).add(r["event_type"])
    for r in feat_next_best_offer(spark, sf_dir).collect():
        if r["recommend"] is None:
            assert len(seen[r["user_id"]]) == 5  # saw every type
        else:
            assert r["recommend"] not in seen[r["user_id"]]


def test_asof_tolerance_nulls_stale_matches(spark, sf_dir):
    """Every tolerance-join match must also be a plain as-of match
    within 30 days; every plain match older than 30 days must be
    nulled; within-tolerance matches are identical."""
    from cortana_intelligence_customer360_spark.operators.joins import (
        _ASOF_TOL_US,
        join_asof,
        join_asof_tolerance,
    )
    from cortana_intelligence_customer360_spark.sources.tables import load_table
    from cortana_intelligence_customer360_spark.compat import epoch_us

    plain = {
        r["event_id"]: (r["asof_orderkey"], r["ts_us"])
        for r in join_asof(spark, sf_dir).collect()
    }
    odate = {
        r["o_orderkey"]: r["od_us"]
        for r in load_table(spark, sf_dir, "orders")
        .select("o_orderkey", epoch_us("o_orderdate").alias("od_us"))
        .collect()
    }
    tol = {
        r["event_id"]: r["asof_orderkey"]
        for r in join_asof_tolerance(spark, sf_dir).collect()
    }
    assert set(tol) == set(plain)
    for eid, (pk, ts_us) in plain.items():
        if pk is None:
            assert tol[eid] is None
        elif ts_us - odate[pk] <= _ASOF_TOL_US:
            assert tol[eid] == pk
        else:
            assert tol[eid] is None


def test_psi_zero_on_identical_split_and_positive_on_shift(spark, tmp_path):
    """A 50/50 random split of one distribution gives PSI ~ 0; a
    shifted second period gives a clearly positive PSI."""
    import datetime as _dt

    from cortana_intelligence_customer360_spark.operators.quality import (
        dq_distribution_drift,
        _PSI_SPLIT,
    )

    split = _dt.datetime.fromisoformat(_PSI_SPLIT)
    before = split - _dt.timedelta(days=30)
    after = split + _dt.timedelta(days=30)
    same = [
        (i, i % 1000, "F", float((i * 37) % 400000) + 1000.0, before if i % 2 else after, "1-URGENT")
        for i in range(4000)
    ]
    shifted = [
        (i, i % 1000, "F",
         float((i * 37) % 400000) + 1000.0 if i % 2 else float((i * 37) % 50000) + 1000.0,
         before if i % 2 else after, "1-URGENT")
        for i in range(4000)
    ]
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    for name, rows, check in (
        ("same", same, lambda v: abs(v) < 0.01),
        ("shift", shifted, lambda v: v > 0.5),
    ):
        d = str(tmp_path / name)
        spark.createDataFrame(rows, schema).write.parquet(f"{d}/orders.parquet")
        psi = dq_distribution_drift(spark, d).collect()[0]["psi"]
        assert check(psi), (name, psi)


def test_autocorr_sign_on_constructed_series(spark, tmp_path):
    """Alternating series -> r1 near -1; trending series -> r1 > 0."""
    from cortana_intelligence_customer360_spark.operators.timeseries import (
        ts_autocorr_lag1,
    )

    t0 = dt.datetime(2024, 1, 5)
    rows = [
        (i, 1, t0 + dt.timedelta(minutes=i), "view", 10.0 if i % 2 else 1.0, "{}")
        for i in range(40)
    ] + [
        (100 + i, 2, t0 + dt.timedelta(minutes=i), "view", float(i), "{}")
        for i in range(40)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "acf")
    ev.write.parquet(f"{d}/events.parquet")
    out = {r["user_id"]: r["r1"] for r in ts_autocorr_lag1(spark, d).collect()}
    assert out[1] < -0.9
    assert out[2] > 0.9


def test_compression_ratio_discriminates_and_is_deterministic(spark, tmp_path):
    from cortana_intelligence_customer360_spark.llmops import text as tx

    rep = "spark join " * 50
    rand = " ".join(f"w{i * 7919 % 104729}" for i in range(100))
    docs = spark.createDataFrame(
        [(0, rep, "en", "s", len(rep)), (1, rand, "en", "s", len(rand))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "cr")
    docs.write.parquet(f"{d}/documents.parquet")
    a = {r["doc_id"]: r for r in tx.text_compression_ratio(spark, d).collect()}
    b = {r["doc_id"]: r for r in tx.text_compression_ratio(spark, d).collect()}
    assert a[0]["ratio"] == b[0]["ratio"] and a[1]["ratio"] == b[1]["ratio"]
    assert a[0]["ratio"] < 0.5 * a[1]["ratio"]  # boilerplate compresses far better
    for r in a.values():
        assert 0 < r["n_compressed"] and 0 < r["ratio"]


def test_benford_expectations_and_chi2(spark, sf_dir):
    from cortana_intelligence_customer360_spark.operators.quality import (
        _BENFORD_EXP,
        dq_benford,
    )

    assert abs(sum(_BENFORD_EXP.values()) - 1.0) < 1e-6
    rows = dq_benford(spark, sf_dir).collect()
    assert rows, "no digits observed"
    for r in rows:
        assert 1 <= r.digit <= 9
        assert r.chi2_contrib >= 0.0
        assert 0.0 < r.obs_freq <= 1.0


def test_matryoshka_prefix_is_unit_norm(spark, sf_dir):
    from cortana_intelligence_customer360_spark.llmops.embeddings import (
        emb_matryoshka_truncate,
    )

    out = emb_matryoshka_truncate(spark, sf_dir)
    norms = (
        out.groupBy("vec_id")
        .agg(F.sum(F.col("comp") * F.col("comp")).alias("ss"))
        .collect()
    )
    assert norms
    for r in norms:
        assert abs(r.ss - 1.0) < 1e-3, f"vec {r.vec_id}: |x|^2={r.ss}"


def test_sliding_median_within_frame_bounds(spark, sf_dir):
    from cortana_intelligence_customer360_spark.operators.windows import (
        win_median_sliding,
    )
    from cortana_intelligence_customer360_spark.sources.tables import load_table
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    frame = ev.select(
        "event_id",
        F.min("value").over(w).alias("lo"),
        F.max("value").over(w).alias("hi"),
        F.count(F.lit(1)).over(w).alias("k"),
        F.col("value").alias("v"),
    )
    joined = win_median_sliding(spark, sf_dir).join(frame, "event_id")
    bad = joined.where(
        (F.col("med5") < F.col("lo") - 1e-9) | (F.col("med5") > F.col("hi") + 1e-9)
    ).count()
    assert bad == 0
    # A frame of one row IS that row.
    first = joined.where(F.col("k") == 1).where(
        F.abs(F.col("med5") - F.round(F.col("v"), 6)) > 1e-6
    )
    assert first.count() == 0


def test_linreg_closed_form_satisfies_normal_equations(spark, sf_dir):
    """The OLS fit is DEFINED by residual orthogonality: Σe = 0 and
    Σx·e = 0 within each group. Verifying that on the actual lineitem
    data proves the sufficient-statistic arithmetic, independent of
    whether the synthetic data has any real x→y relation (it doesn't:
    r² ≈ 0 here, which is itself asserted as a sanity pin)."""
    from cortana_intelligence_customer360_spark.features.ml import (
        ml_linreg_closed_form,
    )
    from cortana_intelligence_customer360_spark.sources.tables import load_table

    fit = ml_linreg_closed_form(spark, sf_dir)
    rows = fit.collect()
    assert {r.l_returnflag for r in rows} >= {"A", "N", "R"}
    for r in rows:
        assert 0.0 <= r.r2 <= 1.0 + 1e-9

    li = load_table(spark, sf_dir, "lineitem")
    resid = (
        li.join(F.broadcast(fit), "l_returnflag")
        .withColumn(
            "e",
            F.col("l_extendedprice")
            - (F.col("slope") * F.col("l_quantity") + F.col("intercept")),
        )
        .groupBy("l_returnflag")
        .agg(
            F.avg("e").alias("me"),
            F.avg(F.col("l_quantity") * F.col("e")).alias("mxe"),
            F.avg(F.abs(F.col("e"))).alias("mae"),
        )
        .collect()
    )
    for r in resid:
        # Tolerance scales with the residual magnitude (~1e5 here);
        # the only slack is the 6-dp rounding of slope/intercept.
        assert abs(r.me) <= max(1.0, 1e-6 * r.mae), r
        assert abs(r.mxe) <= max(50.0, 1e-4 * r.mae), r


def test_common_neighbors_nonadjacent_and_bounded(spark, sf_dir):
    from cortana_intelligence_customer360_spark.operators import graph as g

    out = g.graph_common_neighbors(spark, sf_dir)
    rows = out.collect()
    assert rows, "no predicted links"
    for r in rows:
        assert r.a < r.b
        assert 0 < r.n_common <= min(r.deg_a, r.deg_b)
        assert 0.0 < r.jaccard <= 1.0
    # Predicted pairs must NOT be edges of the full co-purchase graph.
    und = g._copurchase_und(spark, sf_dir)
    adj = {(x.pa, x.pb) for x in und.select("pa", "pb").collect()}
    for r in rows:
        assert (r.a, r.b) not in adj, f"adjacent pair predicted: {r}"


def test_item_similarity_cosine_bounds_and_cap(spark, sf_dir):
    from cortana_intelligence_customer360_spark.features import recsys

    rows = recsys.feat_item_similarity(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.i < r.j
        assert 0 < r.cooc <= min(r.n_i, r.n_j)
        assert 0.0 < r.cosine <= 1.0 + 1e-9
    # The capped incidence respects the per-customer bound.
    ui = recsys._capped_incidence(spark, sf_dir)
    mx = ui.groupBy("cust").count().agg(F.max("count")).collect()[0][0]
    assert mx <= recsys._UI_ITEM_CAP


def test_path_regex_shares_and_counts(spark, sf_dir):
    rows = feat.feat_path_regex(spark, sf_dir).collect()
    names = {r.pattern_name for r in rows}
    assert names == {p[0] for p in feat._PATH_PATTERNS}
    n_sessions = {r.n_sessions for r in rows}
    assert len(n_sessions) == 1  # every pattern sees the same sessions
    for r in rows:
        assert 0 <= r.n_matched <= r.n_sessions
        assert abs(r.match_share - round(r.n_matched / r.n_sessions, 6)) < 1e-9


def test_ate_stratified_terms_consistent(spark, sf_dir):
    rows = fml.ml_ate_stratified(spark, sf_dir).collect()
    assert rows
    n_total = sum(r.n_users for r in rows)
    for r in rows:
        assert 0 <= r.n_treated <= r.n_users
        assert 0.0 <= r.propensity <= 1.0
        if r.ate_term is not None:
            expect = (r.n_users / n_total) * (r.ybar_treated - r.ybar_control)
            # both sides rounded; 6-dp slack on the recomposition
            assert abs(r.ate_term - expect) < 5e-5, r


def test_ttr_vocab_invariants(spark, sf_dir):
    from cortana_intelligence_customer360_spark.llmops import text as tx

    rows = tx.text_ttr_vocab(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.n_types <= r.n_tokens
        assert 0 <= r.n_hapax <= r.n_types
        assert 0.0 < r.ttr <= 1.0
        assert 0.0 <= r.hapax_ratio <= 1.0
    # Cross-check one doc against a driver-side recount.
    doc = load_table(spark, sf_dir, "documents").limit(1).collect()[0]
    toks = doc.text.split(" ")
    from collections import Counter

    c = Counter(toks)
    got = next(r for r in rows if r.doc_id == doc.doc_id)
    assert got.n_tokens == len(toks)
    assert got.n_types == len(c)
    assert got.n_hapax == sum(1 for v in c.values() if v == 1)


def test_ip_cidr_partition_of_events(spark, sf_dir):
    from cortana_intelligence_customer360_spark.functions import network

    rows = network.fn_ip_cidr(spark, sf_dir).collect()
    total = sum(r.n_events for r in rows)
    n_ev = load_table(spark, sf_dir, "events").count()
    assert total == n_ev  # blocks + unassigned partition the event set
    by_label = {r.net_label: r for r in rows}
    for label, lo, hi in network._CIDR_BLOCKS:
        if label in by_label:
            r = by_label[label]
            assert lo <= r.min_ip <= r.max_ip <= hi
    if "unassigned" in by_label:
        top = network._CIDR_BLOCKS[-1][2]
        assert by_label["unassigned"].min_ip > top


def test_decline_streak_recount_one_customer(spark, sf_dir):
    out = windows.win_decline_streak(spark, sf_dir)
    rows = out.collect()
    assert rows, "no customer with a >=3 decline streak at this sf"
    for r in rows:
        assert 3 <= r.best_streak <= r.n_orders
        assert 0 <= r.n_declines < r.n_orders
    # Recount the best streak for one flagged customer driver-side.
    pick = rows[0].o_custkey
    hist = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") == pick)
        .orderBy("o_orderdate", "o_orderkey")
        .select(F.round(F.col("o_totalprice") * 100).cast("long").alias("c"))
        .collect()
    )
    best = cur = 1
    for prev, nxt in zip(hist, hist[1:]):
        cur = cur + 1 if nxt.c < prev.c else 1
        best = max(best, cur)
    got = next(r for r in rows if r.o_custkey == pick)
    assert got.best_streak == best
    assert got.n_orders == len(hist)


def test_hll_custom_error_and_merge(spark, sf_dir):
    from cortana_intelligence_customer360_spark.operators import sketches

    rows = {r.event_type: r for r in sketches.agg_hll_custom(spark, sf_dir).collect()}
    assert "__all__" in rows
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact["__all__"] = ev.select("user_id").distinct().count()
    # m=256 -> sigma ~= 6.5%; assert 3-sigma plus slack for small n.
    for et, n in exact.items():
        est = rows[et].hll_estimate
        assert abs(est - n) <= max(3, 0.25 * n), (et, est, n)
    for r in rows.values():
        assert 0 < r.n_buckets <= 256
        assert r.n_empty == 256 - r.n_buckets
    # Merge never reports fewer buckets than any component sketch.
    assert rows["__all__"].n_buckets >= max(
        r.n_buckets for k, r in rows.items() if k != "__all__"
    )


def test_naive_bayes_contract(spark, sf_dir):
    from cortana_intelligence_customer360_spark.sources.tables import MKT_SEGMENTS

    out = fml.ml_naive_bayes(spark, sf_dir)
    rows = out.collect()
    assert rows
    ids = [r.user_id for r in rows]
    assert len(ids) == len(set(ids))  # one prediction per test user
    segs = set(MKT_SEGMENTS)
    for r in rows:
        assert r.user_id % 5 == 0
        assert r.predicted in segs and r.actual in segs
        assert r.hit == (r.predicted == r.actual)
        assert r.score < 0.0  # log-probabilities
    # Determinism: re-running yields identical predictions.
    again = {r.user_id: r.predicted for r in fml.ml_naive_bayes(spark, sf_dir).collect()}
    assert all(again[r.user_id] == r.predicted for r in rows)


def test_identity_resolution_households(spark, sf_dir):
    from cortana_intelligence_customer360_spark.features import identity

    rows = identity.feat_identity_resolution(spark, sf_dir).collect()
    cust = load_table(spark, sf_dir, "customer")
    n_cust = cust.count()
    assert len(rows) == 3 * n_cust  # three records per customer
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        assert len(members) == members[0].n_records
        assert cid == min(m.record_id for m in members)
        custs = {m.custkey for m in members}
        assert len(custs) == members[0].n_custkeys
        assert len(custs) in (1, 2)  # singleton or household
        if len(custs) == 2:
            a, b = sorted(custs)
            assert b == a + 1 and b % identity._HOUSEHOLD_MOD == 1
    # Every expected household merged (custkey%40==1 with a predecessor).
    want = {
        r.c_custkey
        for r in cust.select("c_custkey").collect()
        if r.c_custkey % identity._HOUSEHOLD_MOD == 1 and r.c_custkey > 0
    }
    got = {
        max(m.custkey for m in mem)
        for mem in by_cluster.values()
        if len({m.custkey for m in mem}) == 2
    }
    assert got == want


def test_seasonal_decompose_recomposes(spark, sf_dir):
    from cortana_intelligence_customer360_spark.operators.timeseries import (
        ts_seasonal_decompose,
    )

    rows = ts_seasonal_decompose(spark, sf_dir).collect()
    assert rows
    seasonals = {}
    for r in rows:
        assert abs(r.revenue - r.trend - r.seasonal - r.residual) < 2e-5, r
        import datetime as _dt

        d = _dt.date.fromisoformat(r.day)
        seasonals.setdefault(d.isoweekday() % 7, set()).add(r.seasonal)
    assert len(seasonals) == 7  # every weekday present
    for dow, vals in seasonals.items():
        assert len(vals) == 1, f"dow {dow} has {len(vals)} seasonal values"


def test_theil_sen_recount_one_user(spark, sf_dir):
    from cortana_intelligence_customer360_spark.operators.timeseries import (
        _TSEN_CAP,
        ts_theil_sen,
    )

    out = ts_theil_sen(spark, sf_dir).collect()
    assert out
    cap_pairs = _TSEN_CAP * (_TSEN_CAP - 1) // 2
    for r in out:
        assert 0 < r.n_slopes <= cap_pairs
    pick = out[0].user_id
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") == pick)
        .orderBy("ts", "event_id")
        .limit(_TSEN_CAP)
        .select(F.unix_micros("ts").alias("t"), "value")
        .collect()
    )
    slopes = sorted(
        (b.value - a.value) / ((b.t - a.t) / 1e6)
        for i, a in enumerate(ev)
        for b in ev[i + 1 :]
        if b.t > a.t
    )
    n = len(slopes)
    med = (slopes[(n + 1) // 2 - 1] + slopes[n // 2]) / 2
    got = next(r for r in out if r.user_id == pick)
    assert got.n_slopes == n
    assert abs(got.theil_sen_slope - med) < 1e-6


def test_count_min_overestimates_only(spark, sf_dir):
    from cortana_intelligence_customer360_spark.operators import sketches

    rows = sketches.agg_count_min(spark, sf_dir).collect()
    assert rows
    n_total = sum(r.exact_count for r in rows)
    for r in rows:
        assert r.cms_estimate >= r.exact_count  # CMS never undercounts
        assert r.overcount == r.cms_estimate - r.exact_count
        # e/w bound with d rows: overcount <= e*N/w with high prob;
        # assert the loose structural bound.
        assert r.overcount <= n_total


def test_ltv_recomposes_and_bounds(spark, sf_dir):
    from cortana_intelligence_customer360_spark.features.value import (
        feat_ltv_heuristic,
    )

    rows = feat_ltv_heuristic(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.active_months <= r.span_months
        assert r.aov > 0 and r.orders_per_month > 0
        assert 0.0 < r.retention <= 1.0
        # Recomposition from the ROUNDED columns: 6-dp error in the
        # rate factors scales by aov, so the tolerance is relative.
        expect = r.aov * r.orders_per_month * r.retention * 24
        assert abs(r.ltv_24m - expect) <= max(1e-3, 1e-4 * abs(expect)), r


def test_logreg_newton_converges(spark, sf_dir):
    from cortana_intelligence_customer360_spark.features.value import (
        _LR_ITERS,
        ml_logreg_newton,
    )

    rows = sorted(ml_logreg_newton(spark, sf_dir).collect(), key=lambda r: r.iter)
    assert [r.iter for r in rows] == list(range(1, _LR_ITERS + 1))
    import math

    for r in rows:
        assert math.isfinite(r.b0) and math.isfinite(r.b1)
    for r in rows:
        assert abs(r.b0) < 20 and abs(r.b1) < 20  # no divergence
    # The intercept moves toward the base-rate logit from iteration 1.
    from cortana_intelligence_customer360_spark.features.value import (
        _lr_features,
    )

    f = _lr_features(spark, sf_dir).agg(
        F.avg("y").alias("rate")
    ).collect()[0]
    base_logit = math.log(f.rate / (1 - f.rate))
    assert (rows[0].b0 > 0) == (base_logit > 0)
    # Determinism across runs.
    again = sorted(ml_logreg_newton(spark, sf_dir).collect(), key=lambda r: r.iter)
    assert [(r.b0, r.b1) for r in again] == [(r.b0, r.b1) for r in rows]


def test_containment_vs_jaccard(spark, sf_dir):
    rows = dedup.dedup_containment(spark, sf_dir).collect()
    for r in rows:
        assert 0.8 <= r.containment <= 1.0 + 1e-9
        assert r.n_common <= r.n_src
        assert r.src_id != r.dst_id
    # Containment is a superset signal: every Jaccard>=thr pair whose
    # smaller side is mostly covered must appear here too.
    jac = {
        (min(r.a_id, r.b_id), max(r.a_id, r.b_id))
        for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
        if r.jaccard >= 0.9
    }
    cont = {
        (min(r.src_id, r.dst_id), max(r.src_id, r.dst_id)) for r in rows
    }
    assert jac <= cont  # J>=0.9 implies C>=0.9 on the smaller side


def test_category_hhi_bounds(spark, sf_dir):
    from cortana_intelligence_customer360_spark.features.value import (
        feat_category_hhi,
    )

    rows = feat_category_hhi(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_categories
        lo = 1.0 / r.n_categories
        assert lo - 1e-9 <= r.hhi <= 1.0 + 1e-9, r
        if r.n_categories == 1:
            assert abs(r.hhi - 1.0) < 1e-9


def test_mime_sniff_partitions_corpus(spark, sf_dir):
    from cortana_intelligence_customer360_spark.llmops.multimodal import (
        multimodal_mime_sniff,
    )

    rows = {r.mime: r for r in multimodal_mime_sniff(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    assert sum(r.n_docs for r in rows.values()) == n
    assert set(rows) == {"image/png", "audio/wav", "application/octet-stream"}
    # Magic prefixes add 8 (PNG) / 12 (RIFF+size+WAVE) bytes per doc.
    base = docs.select(F.sum(F.length("text"))).collect()[0][0]
    total = sum(r.total_bytes for r in rows.values())
    assert total == base + 8 * rows["image/png"].n_docs + 12 * rows["audio/wav"].n_docs


def test_kmeans_lloyd_invariants(spark, sf_dir):
    from cortana_intelligence_customer360_spark.features.value import (
        _KM_ITERS,
        _KM_K,
        _km_points,
        ml_kmeans_lloyd,
    )

    rows = ml_kmeans_lloyd(spark, sf_dir).collect()
    assert len(rows) == _KM_ITERS * _KM_K
    n_pts = _km_points(spark, sf_dir).count()
    by_iter = {}
    for r in rows:
        by_iter.setdefault(r.iter, []).append(r)
    for it, members in by_iter.items():
        assert sum(m.n_points for m in members) == n_pts  # partition
    # Determinism.
    again = ml_kmeans_lloyd(spark, sf_dir).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_mann_kendall_agrees_with_theil_sen_sign(spark, sf_dir):
    from cortana_intelligence_customer360_spark.operators.timeseries import (
        ts_mann_kendall,
        ts_theil_sen,
    )

    mk = {r.user_id: r for r in ts_mann_kendall(spark, sf_dir).collect()}
    slopes = {r.user_id: r for r in ts_theil_sen(spark, sf_dir).collect()}
    assert set(mk) == set(slopes)
    strong_disagree = 0
    for uid, r in mk.items():
        assert -r.n_pairs <= r.mk_s <= r.n_pairs
        assert abs(r.tau_a) <= 1.0 + 1e-9
        # A strongly positive tau should not pair with a negative
        # Theil-Sen slope (and vice versa).
        if abs(r.tau_a) > 0.3:
            if r.tau_a * slopes[uid].theil_sen_slope < 0:
                strong_disagree += 1
    assert strong_disagree == 0


def test_next_purchase_eta_dates(spark, sf_dir):
    import datetime as _dt

    from cortana_intelligence_customer360_spark.operators.timeseries import (
        ts_next_purchase_eta,
    )

    rows = ts_next_purchase_eta(spark, sf_dir).collect()
    assert rows
    for r in rows:
        last = _dt.date.fromisoformat(r.last_order_day)
        eta = _dt.date.fromisoformat(r.eta_day)
        assert r.n_orders >= 2
        assert r.mean_gap_days > 0
        # HALF_UP like both engines' round(), not Python's banker's.
        import math as _math

        assert (eta - last).days == _math.floor(r.mean_gap_days + 0.5)


def test_clustering_coeff_bounds(spark, sf001_dir):
    # sf0.01: the proximity graph at sf0.001 has too few points for
    # any within-radius pair (the usual cardinality floor).
    from cortana_intelligence_customer360_spark.operators.spatial import (
        graph_clustering_coeff,
    )

    rows = graph_clustering_coeff(spark, sf001_dir).collect()
    assert rows
    for r in rows:
        assert r.deg >= 1
        assert 0.0 <= r.clustering_coeff <= 1.0 + 1e-9
        if r.deg >= 2:
            max_tri = r.deg * (r.deg - 1) // 2
            assert r.n_triangles <= max_tri
        else:
            assert r.clustering_coeff == 0.0


def test_revenue_bridge_decomposes_exactly(spark, sf_dir):
    from cortana_intelligence_customer360_spark.features.value import (
        agg_revenue_bridge,
    )

    rows = agg_revenue_bridge(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.delta_c == r.rev1_c - r.rev0_c
        # volume + price effects sum to the delta (dollars).
        recomposed = r.volume_effect + r.price_effect
        assert abs(recomposed - r.delta_c / 100.0) < 1e-3, r


def test_iqr_outlier_share_consistent(spark, sf_dir):
    from cortana_intelligence_customer360_spark.operators.quality import (
        dq_outlier_iqr,
    )

    rows = dq_outlier_iqr(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.q1 <= r.q3
        assert r.lo_fence <= r.q1 and r.q3 <= r.hi_fence
        assert 0 <= r.n_outliers <= r.n
        assert abs(r.outlier_share - round(r.n_outliers / r.n, 6)) < 1e-9
        # Tukey fences at 1.5 IQR keep the bulk: < 10% flagged.
        assert r.outlier_share < 0.1


def test_js_divergence_bounds_and_self_zero(spark, sf_dir):
    from cortana_intelligence_customer360_spark.llmops.text import (
        text_js_divergence,
    )

    rows = text_js_divergence(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # JS with log2 lives in [0, 1]; small slack for term rounding.
        assert -1e-3 <= r.js_divergence <= 1.0 + 1e-3, r
        assert 0 < r.vocab <= r.n_tokens
    # A single-source corpus diverges ~0 from itself.
    docs = load_table(spark, sf_dir, "documents")
    one = docs.withColumn("source", F.lit("only"))
    import tempfile, os

    d = tempfile.mkdtemp()
    one.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    solo = text_js_divergence(spark, d).collect()
    assert len(solo) == 1
    assert abs(solo[0].js_divergence) < 1e-3


def test_freshness_lag_watermark(spark, sf_dir):
    from cortana_intelligence_customer360_spark.operators.quality import (
        dq_freshness_lag,
    )

    rows = dq_freshness_lag(spark, sf_dir).collect()
    assert rows
    lags = [r.lag_minutes for r in rows]
    assert min(lags) == 0.0  # the freshest type IS the watermark
    for r in rows:
        assert r.lag_minutes >= 0.0
        assert r.n_events > 0


def test_emb_norm_stats_units(spark, sf_dir):
    from cortana_intelligence_customer360_spark.llmops.embeddings import (
        emb_norm_stats,
    )

    rows = emb_norm_stats(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.min_norm <= r.mean_norm <= r.max_norm
        assert 0 <= r.n_nonunit <= r.n_vecs


def test_zipf_slope_negative(spark, sf_dir):
    from cortana_intelligence_customer360_spark.llmops.text import (
        text_zipf_fit,
    )

    rows = text_zipf_fit(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_tokens_fit > 10
    assert r.zipf_slope < 0  # frequency decays with rank, always
    assert r.zipf_intercept > 0


def test_mom_change_recomputes(spark, sf_dir):
    from cortana_intelligence_customer360_spark.operators.windows import (
        win_mom_change,
    )

    rows = win_mom_change(spark, sf_dir).collect()
    assert rows
    by_seg = {}
    for r in rows:
        by_seg.setdefault(r.c_mktsegment, []).append(r)
    for seg, ms in by_seg.items():
        ms.sort(key=lambda r: r.ym)
        assert ms[0].mom_pct is None  # first month has no predecessor
        for prev, cur in zip(ms, ms[1:]):
            expect = round((cur.rev_c - prev.rev_c) / prev.rev_c * 100.0, 6)
            assert abs(cur.mom_pct - expect) < 1e-6


def test_ua_parse_families_partition(spark, sf_dir):
    from cortana_intelligence_customer360_spark.functions.network import (
        fn_ua_parse,
    )

    rows = {r.family: r for r in fn_ua_parse(spark, sf_dir).collect()}
    n_ev = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_events for r in rows.values()) == n_ev
    assert set(rows) <= {"chrome", "safari", "firefox", "curl"}
    for r in rows.values():
        assert 70 <= r.min_major <= r.max_major <= 99


def test_new_vs_returning_shares(spark, sf_dir):
    from cortana_intelligence_customer360_spark.features.value import (
        feat_new_vs_returning,
    )

    rows = sorted(
        feat_new_vs_returning(spark, sf_dir).collect(), key=lambda r: r.ym
    )
    assert rows
    # The first month of the dataset is 100% new by definition.
    assert rows[0].returning_customers == 0
    assert abs(rows[0].new_rev_share - 1.0) < 1e-9
    total_new = sum(r.new_customers for r in rows)
    n_cust = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert total_new == n_cust  # every buyer is new exactly once
    for r in rows:
        assert 0.0 <= r.new_rev_share <= 1.0 + 1e-9


def test_price_elasticity_finite(spark, sf_dir):
    import math

    from cortana_intelligence_customer360_spark.features.value import (
        ml_price_elasticity,
    )

    rows = ml_price_elasticity(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_lines > 2
        assert math.isfinite(r.elasticity) and math.isfinite(r.intercept)


def test_segment_migration_is_stochastic_matrix(spark, sf_dir):
    from cortana_intelligence_customer360_spark.features.value import (
        feat_segment_migration,
    )

    rows = feat_segment_migration(spark, sf_dir).collect()
    assert rows
    tiers = {"none", "light", "mid", "heavy"}
    by_from = {}
    for r in rows:
        assert r.seg_before in tiers and r.seg_after in tiers
        by_from.setdefault(r.seg_before, []).append(r)
    n_cust = load_table(spark, sf_dir, "customer").count()
    assert sum(r.n_customers for r in rows) == n_cust
    for seg, ms in by_from.items():
        assert abs(sum(m.row_share for m in ms) - 1.0) < 1e-4, seg
