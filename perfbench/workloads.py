"""The benchmark's workloads: which ops each one runs, on which inputs.

Every workload is a closed loop with one client: the benchmark issues
one op, waits for its result to be materialised, then issues the next,
like a scheduled pipeline. Op lists are fixed here (not pattern-matched
from the registry) so that a later change to the program cannot change
what a workload measures. The seed sets the generated inputs and the op
order of every pass.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    # Generated input size: ``sf`` scales the star schema and events as
    # TESTDATA.md's scale factors do; documents and embeddings are rows.
    sf: float
    n_docs: int
    n_emb: int
    # Ops of the workload's families left out, with the reason.
    excluded: dict[str, str] = field(default_factory=dict)


# Nightly Customer-360 refresh: JVM-only scans, shuffles, joins and
# aggregates over shared fact tables; no Python worker runs.
PROFILE_BATCH = Workload(
    name="profile_batch",
    ops=(
        "feat_profile_join",
        "feat_attribution_touch",
        "feat_segment_migration",
        "tpch_q3_shipping_priority",
        "agg_pricing_summary",
        "win_topk_per_group",
    ),
    sf=0.01,
    n_docs=500,
    n_emb=500,
    excluded={
        "feat_ltv_heuristic": (
            "oracle mismatch on some seeds (3 of 12 at sf0.01): one customer's "
            "fractional feature differs from DuckDB's"
        ),
    },
)

# LLM-data curation: time that crosses the JVM-Python Arrow boundary
# (pandas UDF, grouped pandas UDAF, Python UDTF) or runs eagerly in op code.
CORPUS_CURATION = Workload(
    name="corpus_curation",
    ops=(
        "udf_pandas_vectorized",
        "udaf_grouped_pandas",
        "udtf_python",
        "text_tfidf_topk",
        "text_bpe_encode",
        "dedup_simhash",
        "sim_knn_exact",
        "multimodal_mime_sniff",
    ),
    sf=0.01,
    n_docs=500,
    n_emb=500,
    excluded={
        "pipeline_corpus_curation": (
            "3.3 s per call; with its cold check call it does not fit the "
            "per-run time budget of three workloads"
        ),
    },
)

# Incremental ingest: multi-batch streaming drains into a state store and
# a memory sink, lakehouse commits and time travel, merges; per-micro-batch
# fixed cost.
STREAM_INGEST = Workload(
    name="stream_ingest",
    ops=(
        "stream_tumbling_multi",
        "lake_time_travel",
        "merge_upsert",
        "scd2_history",
    ),
    sf=0.001,
    n_docs=500,
    n_emb=500,
    excluded={
        "mv_incremental_refresh": "left out to keep the run within its time budget",
        "sink_parquet_partitioned": "left out to keep the run within its time budget",
    },
)

WORKLOADS = {w.name: w for w in (PROFILE_BATCH, CORPUS_CURATION, STREAM_INGEST)}
