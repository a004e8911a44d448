"""Round-8 additions: SQL catalog/DDL lifecycle, the row-level
ForeachWriter sink's retry idempotence, and the bench comparator gate.

The registry-parametrized parity/type suites already run the new ids
against the DuckDB oracle; these tests pin the behaviors the oracle
can't see — cleanup-on-exit, epoch-keyed retry semantics, gate math.
"""

from __future__ import annotations

import json
import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_catalog_ddl_drops_table_on_exit(spark):
    from cortana_intelligence_customer360_spark.operators.catalog import (
        sql_catalog_ddl,
    )

    out = sql_catalog_ddl(spark, SF_DIR)
    assert out.count() > 0
    # the managed table must be gone (DROP in finally), even though the
    # returned frame is still consumable (localCheckpoint before drop)
    names = {t.name for t in spark.catalog.listTables()}
    assert not any(n.startswith("c360_ddl_") for n in names)
    assert out.count() > 0  # still materializable after the drop


def test_catalog_ctas_overwrites_only_target_partition(spark):
    from cortana_intelligence_customer360_spark.operators.catalog import (
        sql_catalog_ctas_partitioned,
    )

    rows = {
        r["r_name"]: r
        for r in sql_catalog_ctas_partitioned(spark, SF_DIR).collect()
    }
    assert rows["ASIA"]["n_v2"] == rows["ASIA"]["n_nations"]
    for name, r in rows.items():
        if name != "ASIA":
            assert r["n_v2"] == 0
    assert all(r["n_partitions"] == len(rows) for r in rows.values())


def test_catalog_global_view_dropped_on_exit(spark):
    from cortana_intelligence_customer360_spark.operators.catalog import (
        sql_catalog_global_view,
    )

    out = sql_catalog_global_view(spark, SF_DIR)
    assert out.count() > 0
    gt = {t.name for t in spark.catalog.listTables("global_temp")}
    assert not any(n.startswith("c360_gv_") for n in gt)


def test_foreach_writer_retry_is_idempotent(tmp_path):
    """A retried (partition, epoch) task must REPLACE its predecessor's
    output, and a failed attempt must leave nothing visible — the
    epoch-keyed atomic-rename contract stream_foreach_sink relies on."""
    import glob as _glob
    from types import SimpleNamespace

    from cortana_intelligence_customer360_spark.streaming.ops import (
        stream_foreach_sink,  # noqa: F401 (import proves registration)
    )

    # Faithful replica of the op's closure-local writer (same naming
    # scheme and commit protocol), driven through two attempts of the
    # same (partition=0, epoch=7) plus a failed attempt of epoch 8.
    class _EpochKeyedRowWriter:
        def __init__(self, path):
            self.path = str(path)

        def open(self, partition_id, epoch_id):
            self._final = os.path.join(
                self.path, f"p{partition_id}-e{epoch_id}.jsonl"
            )
            self._tmp = self._final + ".tmp"
            self._fh = open(self._tmp, "w")
            return True

        def process(self, row):
            self._fh.write(json.dumps({"event_id": row.event_id}) + "\n")

        def close(self, error):
            self._fh.close()
            if error is None:
                os.replace(self._tmp, self._final)
            else:
                os.remove(self._tmp)

    row = SimpleNamespace(event_id=1)
    w = _EpochKeyedRowWriter(tmp_path)
    # attempt 1 commits 3 rows
    w.open(0, 7)
    for _ in range(3):
        w.process(row)
    w.close(None)
    # retry of the SAME epoch commits 2 rows -> replaces, not appends
    w.open(0, 7)
    for _ in range(2):
        w.process(row)
    w.close(None)
    # a failed attempt of another epoch leaves no visible file
    w.open(0, 8)
    w.process(row)
    w.close(RuntimeError("task died"))

    visible = sorted(
        os.path.basename(p) for p in _glob.glob(str(tmp_path / "p*-e*.jsonl"))
    )
    assert visible == ["p0-e7.jsonl"]
    assert len(open(tmp_path / "p0-e7.jsonl").read().splitlines()) == 2
    assert not _glob.glob(str(tmp_path / "*.tmp"))


def test_bench_gate_math(tmp_path):
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def snap(path, queries):
        with open(path, "w") as f:
            json.dump({"queries": queries}, f)

    a = tmp_path / "a.json"
    b = tmp_path / "b.json"
    # identical -> ok
    snap(a, {"x": 1.0, "y": 5.0})
    snap(b, {"x": 1.0, "y": 5.0})
    r = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "bench_gate.py"), a, b],
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0 and json.loads(r.stdout)["ok"]
    # a 4x swing on a big id -> outlier, exit 1
    snap(b, {"x": 1.0, "y": 20.0})
    r = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "bench_gate.py"), a, b],
        capture_output=True,
        text=True,
    )
    out = json.loads(r.stdout)
    assert r.returncode == 1 and out["outliers"] == {"y": 4.0}
    # sub-floor absolute jitter on a tiny id is NOT an outlier,
    # but it can still fail the sum criterion if it moves the total
    snap(a, {"x": 0.2, "y": 100.0})
    snap(b, {"x": 0.45, "y": 100.0})
    r = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "bench_gate.py"), a, b],
        capture_output=True,
        text=True,
    )
    out = json.loads(r.stdout)
    assert out["outliers"] == {} and out["sum_ok"]


def test_sql_udf_scalar_drops_function(spark):
    from cortana_intelligence_customer360_spark.operators.catalog import (
        sql_udf_scalar,
    )

    out = sql_udf_scalar(spark, SF_DIR)
    rows = {r["o_orderpriority"]: r for r in out.collect()}
    assert rows and all(r["disc_total"] > 0 for r in rows.values())
    # urgent orders must actually be discounted relative to raw sum
    import pyspark.sql.functions as F

    from cortana_intelligence_customer360_spark.sources.tables import load_table

    raw = (
        load_table(spark, SF_DIR, "orders")
        .groupBy("o_orderpriority")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double").alias("t"))
    )
    raw_rows = {r["o_orderpriority"]: r["t"] for r in raw.collect()}
    for pri, r in rows.items():
        if pri.startswith("1-"):
            assert r["disc_total"] < raw_rows[pri]
        else:
            assert abs(r["disc_total"] - raw_rows[pri]) < 1e-6
    # function must be gone after the op (DROP in finally)
    from cortana_intelligence_customer360_spark.operators.catalog import _tag

    with pytest.raises(Exception):
        spark.sql(f"SELECT c360_disc_{_tag(SF_DIR)}(1.0, 'x')").collect()


def test_sql_udf_table_binds_parameters(spark):
    from cortana_intelligence_customer360_spark.operators.catalog import (
        sql_udf_table,
    )

    rows = {r["seg"]: r for r in sql_udf_table(spark, SF_DIR).collect()}
    assert set(rows) == {"BUILDING", "MACHINERY"}
    assert all(r["n"] > 0 for r in rows.values())


def test_source_rate_micro_deterministic(spark):
    """Two independent runs of the rate-micro-batch op must agree
    exactly — the source is deterministic by construction (pinned
    startTimestamp, rowsPerBatch, advance) and the cutoff filter makes
    the result independent of stop-poll timing."""
    from cortana_intelligence_customer360_spark.streaming.ops import (
        source_rate_micro,
    )

    a = source_rate_micro(spark, SF_DIR).collect()[0].asDict()
    b = source_rate_micro(spark, SF_DIR).collect()[0].asDict()
    assert a == b
    assert a["n"] == a["n_distinct"] == 15000
    assert a["sum_v"] == 15000 * 14999 // 2


def test_regr_family_matches_builtin_regr(spark):
    """The closed-form decimal-moment slope/intercept/r2 must agree
    with Spark's native regr_* aggregates (which we avoid in the op
    only because their double accumulation is partition-order-
    dependent — see agg_stats)."""
    from cortana_intelligence_customer360_spark.operators.aggregates import (
        agg_regr_family,
    )
    from cortana_intelligence_customer360_spark.sources.tables import load_table

    ours = {r["l_returnflag"]: r for r in agg_regr_family(spark, SF_DIR).collect()}
    li = load_table(spark, SF_DIR, "lineitem")
    ref = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            *[
                __import__("pyspark.sql.functions", fromlist=["expr"]).expr(e)
                for e in (
                    "regr_slope(l_extendedprice, l_quantity) AS slope",
                    "regr_intercept(l_extendedprice, l_quantity) AS intercept",
                    "regr_r2(l_extendedprice, l_quantity) AS r2",
                )
            ]
        )
        .collect()
    }
    assert set(ours) == set(ref)
    for flag, row in ours.items():
        for col in ("slope", "intercept", "r2"):
            assert abs(row[col] - ref[flag][col]) < 1e-5, (flag, col)


def test_scripting_repeat_trip_count_is_data_dependent(spark):
    """REPEAT runs its body at least once and terminates exactly at the
    first balance >= target (do-while semantics): replaying the
    recurrence in Python must land on the same period count."""
    from cortana_intelligence_customer360_spark.operators.sqlsurface import (
        sql_scripting_repeat,
    )

    row = sql_scripting_repeat(spark, SF_DIR).collect()[0]
    bal, i = 0.0, 0
    while True:
        bal = round(bal * 1.02 + row["monthly_contribution"], 6)
        i += 1
        if bal >= row["target_balance"]:
            break
    assert i == row["n_periods"] >= 1
    assert abs(bal - row["terminal_balance"]) < 1e-9


def test_star_except_drops_exactly_the_excluded_columns(spark):
    from cortana_intelligence_customer360_spark.operators.sqlsurface import (
        sql_star_except,
    )

    out = sql_star_except(spark, SF_DIR)
    assert out.columns == ["c_custkey", "c_acctbal", "c_mktsegment", "n_name"]
    assert out.count() > 0


def test_bround_ties_actually_diverge_from_half_up(spark):
    """The is_tie rows are where banker's rounding earns its keep: on
    every N.50 balance bround and round must differ by exactly 1 for
    odd-floor values and agree for even-floor values."""
    from cortana_intelligence_customer360_spark.functions.formatting import (
        fn_bround_even,
    )

    rows = fn_bround_even(spark, SF_DIR).collect()
    ties = [r for r in rows if r["is_tie"]]
    assert ties, "corpus should contain .50 balances"
    import math

    for r in rows:
        assert r["bankers"] == r["rint_even"]
        if r["is_tie"]:
            assert r["bankers"] % 2 == 0, "banker's rounding must land even"
            # HALF_UP on a tie rounds away from zero; even-ward banker's
            # rounding diverges from it exactly on odd-floor magnitudes.
            away = math.floor(abs(r["c_acctbal"])) + 1
            expect_up = away if r["c_acctbal"] > 0 else -away
            assert r["half_up"] == expect_up
            assert (r["bankers"] != r["half_up"]) == (
                abs(r["bankers"]) % 2 == 0 and abs(expect_up) % 2 == 1
            )
        else:
            assert r["bankers"] == r["half_up"]


def test_sentences_break_requires_double_space_before_lowercase(spark):
    """Pin the BreakIterator behavior fn_sentences depends on: '. ' +
    lowercase does NOT break, '.  ' does — if a Spark upgrade changes
    this, fn_sentences' oracle premise is void and this fails first."""
    one = spark.sql("SELECT size(sentences('a b. c d')) AS n").collect()[0]["n"]
    two = spark.sql("SELECT size(sentences('a b.  c d')) AS n").collect()[0]["n"]
    assert one == 1 and two == 2


def test_friedman_rank_sums_partition_the_total(spark):
    """Within-block ranks are a permutation of 1..k, so the per-type
    rank sums must total n_blocks * k(k+1)/2 and Q must be >= 0."""
    from cortana_intelligence_customer360_spark.features.stats2 import (
        stat_friedman_test,
    )

    rows = stat_friedman_test(spark, SF_DIR).collect()
    k = len(rows)
    n = rows[0]["n_blocks"]
    assert all(r["n_blocks"] == n for r in rows)
    assert sum(r["rank_sum"] for r in rows) == n * k * (k + 1) // 2
    assert rows[0]["q_stat"] >= 0.0


def test_welch_anova_reduces_toward_classic_f_shape(spark):
    from cortana_intelligence_customer360_spark.features.stats2 import (
        stat_welch_anova,
    )

    row = stat_welch_anova(spark, SF_DIR).collect()[0]
    assert row["k"] == 5
    assert row["f_stat"] >= 0.0
    # Welch df2 is bounded by min_j(n_j - 1) * k-ish from below and
    # N - k from above; just pin sanity: positive and finite.
    assert 0.0 < row["df2"] < row["nn"]


def test_poisson_irls_converges_to_moment_match(spark):
    """At the IRLS fixed point the fitted means reproduce the sample
    total: sum(exp(b0 + b1 x)) ~= sum(y). Verify on the final iterate."""
    import math

    from cortana_intelligence_customer360_spark.features.value import (
        _poisson_features,
        ml_poisson_irls,
    )

    iters = ml_poisson_irls(spark, SF_DIR).collect()
    assert [r["iter"] for r in iters] == list(range(1, len(iters) + 1))
    b0, b1 = iters[-1]["b0"], iters[-1]["b1"]
    pb0, pb1 = iters[-2]["b0"], iters[-2]["b1"]
    assert abs(b0 - pb0) < 1e-3 and abs(b1 - pb1) < 1e-3, "not converged"
    feats = _poisson_features(spark, SF_DIR).collect()
    fitted = sum(math.exp(b0 + b1 * r["x"]) for r in feats)
    actual = sum(r["y"] for r in feats)
    assert abs(fitted - actual) / actual < 1e-3


def test_ses_grid_flags_exactly_one_best_alpha(spark):
    from cortana_intelligence_customer360_spark.operators.timeseries import (
        ts_ses_grid,
    )

    rows = ts_ses_grid(spark, SF_DIR).collect()
    assert len(rows) == 9
    assert sum(1 for r in rows if r["is_best"]) == 1
    best = min(rows, key=lambda r: (r["sse"], r["alpha"]))
    assert best["is_best"]


def test_sax_letters_are_monotone_in_z(spark):
    from cortana_intelligence_customer360_spark.operators.timeseries import (
        ts_sax_symbols,
    )

    rows = sorted(ts_sax_symbols(spark, SF_DIR).collect(), key=lambda r: r["z"])
    letters = [r["sax"] for r in rows]
    assert letters == sorted(letters), "letters must be monotone in z"
    assert set(letters) <= set("abcd")


def test_shallow_clone_divergence_is_isolated(spark):
    """Appending to the clone must not change what the source reads,
    and the clone's v0 must reference only source-owned files."""
    import os as _os

    from cortana_intelligence_customer360_spark.sources.derived import scratch_dir
    from cortana_intelligence_customer360_spark.sources.lakehouse import (
        _build_orders_table,
        shallow_clone,
    )
    from cortana_intelligence_customer360_spark.sources.tables import load_table

    src = _build_orders_table(spark, SF_DIR, "t_clone_iso_src")
    before = src.read(spark).count()
    clone = shallow_clone(src, scratch_dir("t_clone_iso_dst", SF_DIR))
    assert clone.read(spark).count() == before  # clone sees the snapshot
    v0_files = clone.manifest(0)["files"]
    srcroot = _os.path.normpath(src.root)
    assert all(
        _os.path.normpath(f["path"]).startswith(srcroot + _os.sep)
        for f in v0_files
    )
    delta = load_table(spark, SF_DIR, "orders").limit(7)
    clone.commit(delta, "o_orderkey")
    assert src.read(spark).count() == before  # source untouched
    assert clone.read(spark).count() == before + 7


def test_closeness_n1_equals_seed_degree(spark):
    """A seed's distance-1 count is exactly its distinct-neighbor
    degree in the symmetric trade graph."""
    from cortana_intelligence_customer360_spark.operators.graph import (
        _edges,
        graph_closeness_sampled,
    )

    rows = {r["seed"]: r for r in graph_closeness_sampled(spark, SF_DIR).collect()}
    assert rows, "at least one seed must exist"
    deg = {
        r["src"]: r["n"]
        for r in _edges(spark, SF_DIR)
        .where("src < 5")
        .groupBy("src")
        .agg(__import__("pyspark.sql.functions", fromlist=["countDistinct"])
             .countDistinct("dst").alias("n"))
        .collect()
    }
    for seed, r in rows.items():
        assert r["n1"] == deg[seed]
        assert r["harmonic_closeness"] > 0.0
        assert r["n_reached"] == r["n1"] + r["n2"] + r["n3"] + r["n4"]


def test_lateral_df_api_matches_window_formulation(spark):
    from pyspark.sql import Window
    import pyspark.sql.functions as F

    from cortana_intelligence_customer360_spark.operators.joins import (
        join_lateral_df_api,
    )
    from cortana_intelligence_customer360_spark.sources.tables import load_table

    got = {
        (r["c_custkey"], r["o_orderkey"])
        for r in join_lateral_df_api(spark, SF_DIR).collect()
    }
    cust = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, SF_DIR, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    want = {
        (r["o_custkey"], r["o_orderkey"])
        for r in orders.withColumn("rn", F.row_number().over(w))
        .where("rn <= 2")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .collect()
    }
    assert got == want and got


def test_tvf_range_keeps_empty_buckets(spark):
    from cortana_intelligence_customer360_spark.operators.sqlsurface import (
        sql_tvf_range,
    )

    rows = {r["bucket"]: r for r in sql_tvf_range(spark, SF_DIR).collect()}
    assert set(rows) == set(range(12)), "spine must be dense 0..11"
    assert any(r["n_orders"] == 0 for r in rows.values()), (
        "at least one empty bucket should exist at small SF"
    )
    for r in rows.values():
        if r["n_orders"] == 0:
            assert r["revenue"] == 0.0


def test_xpath_roundtrip_recovers_ground_truth(spark):
    from cortana_intelligence_customer360_spark.functions.markup import fn_xpath

    rows = fn_xpath(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["key_back"] == r["l_orderkey"]
        assert r["n_lines"] == len(r["lines_csv"].split(","))


def test_piecewise_trend_covers_all_months(spark):
    from cortana_intelligence_customer360_spark.operators.timeseries import (
        ts_piecewise_trend,
    )

    rows = {r["segment"]: r for r in ts_piecewise_trend(spark, SF_DIR).collect()}
    assert set(rows) == {1, 2, 3}
    # equal-width regimes: segment sizes differ by at most 1 from n/3
    sizes = [rows[s]["n_points"] for s in (1, 2, 3)]
    assert max(sizes) - min(sizes) <= 2
    for r in rows.values():
        assert 0.0 <= r["r2"] <= 1.0


def test_tost_agrees_with_margin_logic(spark):
    from cortana_intelligence_customer360_spark.features.stats2 import (
        _TOST_MARGIN,
        _TOST_ZCRIT,
        stat_tost_equivalence,
    )

    r = stat_tost_equivalence(spark, SF_DIR).collect()[0]
    assert abs(r["diff"] - (r["mean_a"] - r["mean_b"])) < 1e-5
    expect = int(r["t_lower"] > _TOST_ZCRIT and r["t_upper"] > _TOST_ZCRIT)
    assert r["equivalent"] == expect
    # the two one-sided stats straddle the margin symmetrically:
    # t_lower + t_upper == 2*margin/se
    assert abs((r["t_lower"] + r["t_upper"]) - 2 * _TOST_MARGIN / r["se"]) < 1e-3


def test_ps_pipeline_stays_distributed(spark):
    """The pandas-on-Spark pipeline must compile to the same
    one-exchange hash-aggregate plan as native groupBy — no collect,
    no driver-side pandas materialization."""
    from cortana_intelligence_customer360_spark.operators.pandas_api import (
        ps_groupby_pipeline,
    )
    from cortana_intelligence_customer360_spark.plans.asserts import plan_string

    df = ps_groupby_pipeline(spark, SF_DIR)
    plan = plan_string(df, mode="simple")
    assert "HashAggregate" in plan
    assert plan.count("Exchange") <= 2  # agg + optional AQE coalesce


def test_pivot_unpivot_roundtrip_is_identity(spark):
    import pyspark.sql.functions as F

    from cortana_intelligence_customer360_spark.operators.sqlsurface import (
        sql_pivot_unpivot_clause,
    )
    from cortana_intelligence_customer360_spark.sources.tables import load_table

    got = {
        (r["o_orderpriority"], r["status"]): r["revenue"]
        for r in sql_pivot_unpivot_clause(spark, SF_DIR).collect()
    }
    want = {
        (r["o_orderpriority"], r["o_orderstatus"]): float(r["rev"])
        for r in load_table(spark, SF_DIR, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
             .cast("double").alias("rev"))
        .collect()
    }
    assert got == want and got


def test_dtw_bounded_by_diagonal_alignment(spark):
    """DTW over the full window is at most the rigid diagonal cost
    (the diagonal is one admissible warping path), and non-negative."""
    import pyspark.sql.functions as F

    from cortana_intelligence_customer360_spark.operators.timeseries import (
        ts_dtw_profiles,
    )
    from cortana_intelligence_customer360_spark.sources.tables import load_table

    rows = ts_dtw_profiles(spark, SF_DIR).collect()
    assert len(rows) == 10  # C(5,2) event-type pairs
    ev = load_table(spark, SF_DIR, "events")
    prof = (
        ev.groupBy("event_type", F.hour("ts").alias("hr"))
        .agg(F.round(F.avg("value"), 6).alias("m"))
        .collect()
    )
    series = {}
    for r in prof:
        series.setdefault(r["event_type"], {})[r["hr"]] = r["m"]
    for r in rows:
        a, b = series[r["type_a"]], series[r["type_b"]]
        diag = sum(abs(a[h] - b[h]) for h in a if h in b)
        assert 0.0 <= r["dtw"] <= diag + 1e-6
        assert r["n_points"] == len(set(a) & set(b))


def test_filtered_knn_respects_label_scope(spark):
    from cortana_intelligence_customer360_spark.llmops.similarity import (
        sim_filtered_knn,
        sim_knn_exact,
    )
    from cortana_intelligence_customer360_spark.sources.tables import load_table

    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    filt = sim_filtered_knn(spark, SF_DIR).collect()
    assert filt
    for r in filt:
        assert labels[r["neighbor_id"]] == labels[r["probe_id"]] == r["label"]
    # the filtered best match can never beat the unfiltered best
    best_unf = {
        r["probe_id"]: r["cosine"]
        for r in sim_knn_exact(spark, SF_DIR).collect()
        if r["rank"] == 1
    }
    for r in filt:
        if r["rank"] == 1:
            assert r["cosine"] <= best_unf[r["probe_id"]] + 1e-9


def test_ucb1_replay_regret_bounds(spark):
    """Regret is exactly best_reward - policy_reward (it CAN be
    negative: the replay policy earns rewards across several arms
    while a fixed arm only earns its own type), and a user's policy
    reward is bounded by their total count of rewarding events."""
    import pyspark.sql.functions as F

    from cortana_intelligence_customer360_spark.features.value import (
        ml_ucb1_replay,
    )
    from cortana_intelligence_customer360_spark.sources.tables import load_table

    rows = ml_ucb1_replay(spark, SF_DIR).collect()
    assert rows
    totals = {
        r["user_id"]: r["n"]
        for r in load_table(spark, SF_DIR, "events")
        .where("value > 50")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for r in rows:
        assert r["regret"] == r["best_reward"] - r["policy_reward"]
        assert 0 <= r["policy_reward"] <= totals.get(r["user_id"], 0)
        assert 0 <= r["best_reward"] <= totals.get(r["user_id"], 0)
        assert r["best_arm"] in {"click", "error", "purchase", "signup", "view"}


def test_ips_estimator_consistency(spark):
    """IPS must be zero for users whose policy arm never matched, and
    the global weighted IPS mass is bounded by n_tot/min(n_arm) times
    the matched reward count."""
    from cortana_intelligence_customer360_spark.features.value import (
        ml_ips_offpolicy_eval,
    )

    rows = ml_ips_offpolicy_eval(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        if r["n_matched"] == 0:
            assert r["ips_value"] == 0.0
        if r["matched_reward"] == 0:
            assert r["ips_value"] == 0.0
        assert 0 <= r["n_matched"] <= r["n_eval"]
        assert r["ips_value"] >= 0.0


def test_esd_removals_are_strictly_distinct_and_remeasured(spark):
    """Each ESD round must remove a NEW month, and because the moments
    are re-estimated after every removal the z of round r is computed
    against a shrinking sample — verify distinctness and that all five
    z values are positive and finite."""
    import math

    from cortana_intelligence_customer360_spark.operators.timeseries import (
        ts_anomaly_esd,
    )

    rows = sorted(ts_anomaly_esd(spark, SF_DIR).collect(),
                  key=lambda r: r["round"])
    assert [r["round"] for r in rows] == [1, 2, 3, 4, 5]
    assert len({r["ym"] for r in rows}) == 5
    for r in rows:
        assert r["z"] > 0 and math.isfinite(r["z"])
        assert r["is_anomalous"] in (0, 1)


def test_hierarchical_forecast_is_coherent(spark):
    """Reconciled child forecasts must sum to the parent's independent
    forecast (the coherence contract), and proportions must preserve
    sign/ordering of the base forecasts within a region."""
    from collections import defaultdict

    from cortana_intelligence_customer360_spark.operators.timeseries import (
        ts_hierarchical_forecast,
    )

    rows = ts_hierarchical_forecast(spark, SF_DIR).collect()
    assert rows
    per_region = defaultdict(list)
    for r in rows:
        per_region[r["r_name"]].append(r)
    for reg, rs in per_region.items():
        rec_sum = sum(r["reconciled"] for r in rs)
        assert abs(rec_sum - rs[0]["region_forecast"]) < 1e-3, reg
        ranked_base = sorted(rs, key=lambda r: r["base_forecast"])
        ranked_rec = sorted(rs, key=lambda r: r["reconciled"])
        same_scale = all(r["bu_total"] > 0 for r in rs)
        if same_scale and rs[0]["region_forecast"] > 0:
            assert [r["n_name"] for r in ranked_base] == [
                r["n_name"] for r in ranked_rec
            ]


def test_sequence_gaps_are_real_holes(spark):
    import pyspark.sql.functions as F

    from cortana_intelligence_customer360_spark.operators.quality import (
        dq_sequence_gaps,
    )
    from cortana_intelligence_customer360_spark.sources.tables import load_table

    rows = dq_sequence_gaps(spark, SF_DIR).collect()
    assert rows, "per-type event-id subsequences must have holes"
    by_type = {}
    for r in (
        load_table(spark, SF_DIR, "events")
        .select("event_type", "event_id")
        .collect()
    ):
        by_type.setdefault(r["event_type"], set()).add(r["event_id"])
    for r in rows:
        keys = by_type[r["event_type"]]
        assert r["missing"] == r["gap_end"] - r["gap_start"] + 1 >= 1
        assert (r["gap_start"] - 1) in keys and (r["gap_end"] + 1) in keys
        assert not any(
            k in keys
            for k in range(
                r["gap_start"], min(r["gap_end"], r["gap_start"] + 50) + 1
            )
        )


def test_did_decomposition(spark):
    from cortana_intelligence_customer360_spark.features.stats2 import (
        stat_diff_in_diff,
    )

    r = stat_diff_in_diff(spark, SF_DIR).collect()[0]
    manual = (r["treat_post"] - r["treat_pre"]) - (r["ctrl_post"] - r["ctrl_pre"])
    assert abs(r["did"] - manual) < 1e-5
    assert r["se"] > 0
    assert abs(r["z_stat"] - r["did"] / r["se"]) < 1e-3


def test_adf_matches_numpy_ols(spark):
    """The closed-form DF regression must agree with a straight numpy
    least-squares fit of Δy on [1, y_lag]."""
    import numpy as np
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from cortana_intelligence_customer360_spark.operators.timeseries import (
        ts_adf_test,
    )
    from cortana_intelligence_customer360_spark.sources.tables import load_table

    row = ts_adf_test(spark, SF_DIR).collect()[0]
    od = load_table(spark, SF_DIR, "orders")
    ym = F.year("o_orderdate") * 100 + F.month("o_orderdate")
    monthly = (
        od.groupBy(ym.alias("ym"))
        .agg(F.round(F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
                     .cast("double") / 1e6, 6).alias("y"))
        .select("ym", "y", F.lag("y").over(Window.orderBy("ym")).alias("x"))
        .where("x IS NOT NULL")
        .collect()
    )
    x = np.array([r["x"] for r in monthly])
    d = np.array([r["y"] - r["x"] for r in monthly])
    A = np.column_stack([np.ones_like(x), x])
    coef, res, *_ = np.linalg.lstsq(A, d, rcond=None)
    assert abs(coef[1] - row["rho"]) < 1e-4
    assert row["n_diffs"] == len(x)
    assert row["stationary"] in (0, 1)


def test_doubly_robust_reduces_to_dm_when_never_matched(spark):
    """For users whose policy arm never appears in their eval half, the
    correction term vanishes and DR == DM exactly."""
    from cortana_intelligence_customer360_spark.features.value import (
        ml_doubly_robust_eval,
        ml_ips_offpolicy_eval,
    )

    dr = {r["user_id"]: r for r in ml_doubly_robust_eval(spark, SF_DIR).collect()}
    ips = {r["user_id"]: r for r in ml_ips_offpolicy_eval(spark, SF_DIR).collect()}
    assert set(dr) == set(ips)
    for uid, r in dr.items():
        assert r["policy_arm"] == ips[uid]["policy_arm"]
        if ips[uid]["n_matched"] == 0:
            assert abs(r["dr_value"] - r["dm_value"]) < 1e-5


def test_volume_anomaly_days_are_tail_days(spark):
    """Flagged days must be real tail days of the daily-count
    distribution: every flagged count sits outside mean +- 2 sample
    std of the full distribution (recomputed independently)."""
    import statistics

    import pyspark.sql.functions as F

    from cortana_intelligence_customer360_spark.operators.quality import (
        dq_volume_anomaly_daily,
    )
    from cortana_intelligence_customer360_spark.sources.tables import load_table

    flagged = dq_volume_anomaly_daily(spark, SF_DIR).collect()
    assert flagged
    daily = [
        r["n"]
        for r in load_table(spark, SF_DIR, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    mu, sd = statistics.mean(daily), statistics.stdev(daily)
    for r in flagged:
        assert abs(r["n_orders"] - mu) > 2 * sd - 1e-6
