"""Streaming heavy hitters: a bounded top-k (Misra-Gries) state
machine on applyInPandasWithState, sharing ``text_heavy_hitters``'
EXACT batch oracle.

Two-phase, like the batch op (llmops/text.py:text_heavy_hitters), but
phase 1 runs as a stateful STREAM:

1. words are hash-partitioned into ``_HH_GROUPS`` groups (all
   occurrences of a word land in one group), and each group's state
   carries one Misra-Gries sketch of capacity ``_HH_K`` ACROSS
   micro-batches — continuing the MG algorithm over a resumed stream
   is the classic streaming form, so the final sketch equals the
   single-pass sketch no matter how the input was split into batches.
   A global heavy hitter (>= 1/50 of all occurrences) has group share
   >= global share, and MG's n/(K+1) undercount bound with K=256 >> 50
   keeps it in the sketch, so the final candidate set provably
   contains every true heavy hitter under ANY batch split.
2. the last emitted candidate set per group (max state seq) is
   exact-counted against the batch table and thresholded with the
   same integer test — output is EXACT, the sketch only pruned the
   key space. Hence the full oracle.

Scale: state is O(K) per group regardless of vocabulary; the exact
phase touches only broadcast-sized candidates. At 100 TB you would
raise _HH_GROUPS to the cluster's parallelism — the bound per group
is unchanged because grouping is by word hash.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..compat import bcount
from ..llmops.text import _HEAVY_HITTERS_SQL, _HH_INV_PHI, _HH_K
from ..session import drain
from ..sources.tables import load_table
from .ops import _docs_stream, _docs_stream_multi

_HH_GROUPS = 8

_HH_OUT_SCHEMA = T.StructType(
    [
        T.StructField("grp", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("word", T.StringType()),
    ]
)
# seq = number of batches folded; sketch = JSON dict word -> counter
_HH_STATE_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("sketch", T.StringType()),
    ]
)


def _hh_state_fn(key, pdf_iter, state):
    """Fold this batch's words into the group's Misra-Gries sketch
    (batched decrement, same bound as llmops.text._mg_sketch) and emit
    the current candidate set stamped with the state's batch seq."""
    import pandas as pd

    if state.exists:
        seq, blob = state.get
        counters = {w: int(c) for w, c in json.loads(blob).items()}
    else:
        seq, counters = 0, {}
    for pdf in pdf_iter:
        for w, c in pdf["word"].value_counts().items():
            counters[w] = counters.get(w, 0) + int(c)
        if len(counters) > _HH_K:
            dec = sorted(counters.values(), reverse=True)[_HH_K]
            counters = {w: c - dec for w, c in counters.items() if c > dec}
    seq += 1
    state.update((int(seq), json.dumps(counters)))
    words = list(counters)
    yield pd.DataFrame(
        {
            "grp": [int(key[0])] * len(words),
            "seq": [int(seq)] * len(words),
            "word": words,
        }
    )


def _stream_candidates(word_stream: DataFrame, min_batches: int) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    grouped = word_stream.withColumn(
        "grp", (F.crc32(F.col("word")) % _HH_GROUPS).cast("long")
    )
    updates = grouped.groupBy("grp").applyInPandasWithState(
        _hh_state_fn,
        outputStructType=_HH_OUT_SCHEMA,
        stateStructType=_HH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = drain(updates, mode="update", min_batches=min_batches)[0]
    return (
        sink.withColumn("mx", F.max("seq").over(Window.partitionBy("grp")))
        .where(F.col("seq") == F.col("mx"))
        .select("word")
        .distinct()
    )


def _exact_phase(spark: SparkSession, sf_dir: str, cands: DataFrame) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("word")).where(
        F.col("word") != ""
    )
    total = words.agg(bcount().alias("n_total"))
    return (
        words.join(F.broadcast(cands), "word", "left_semi")
        .groupBy("word")
        .agg(bcount().alias("cnt"))
        .crossJoin(F.broadcast(total))
        .where(F.col("cnt") * _HH_INV_PHI >= F.col("n_total"))
        .select("word", "cnt")
    )


def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single availableNow pass: the whole corpus arrives as one
    micro-batch; the MG state machine runs once per group."""
    ws = _docs_stream(spark, sf_dir).select(
        F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    cands = _stream_candidates(ws, min_batches=1)
    return _exact_phase(spark, sf_dir, cands)


def stream_heavy_hitters_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus arrives over multiple chronological micro-batches:
    each group's sketch must resume from the state store — the final
    candidate set is the cross-batch MG continuation, and the exact
    phase makes the output batch-identical anyway (that is the point:
    batch-split independence comes from the two-phase design, not from
    luck in how files were cut)."""
    ws = _docs_stream_multi(spark, sf_dir).select(
        F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    cands = _stream_candidates(ws, min_batches=2)
    return _exact_phase(spark, sf_dir, cands)


QUERIES = {
    "stream_heavy_hitters": stream_heavy_hitters,
    "stream_heavy_hitters_multi": stream_heavy_hitters_multi,
}
ORACLE = {
    "stream_heavy_hitters": _HEAVY_HITTERS_SQL,
    "stream_heavy_hitters_multi": _HEAVY_HITTERS_SQL,
}
