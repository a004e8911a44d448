"""Streaming per-key rate limiting (round 6): admit at most N events
per (user, hour), drop the rest — the quota/throttle pattern every
event-ingestion pipeline runs in front of expensive downstream work.

State is one counter per (user_id, hour_bucket) key in
applyInPandasWithState; each batch admits rows in (ts, event_id) order
until the key's quota is exhausted and stamps each admitted row with
its admission sequence. Because the multi-batch replay is CHRONOLOGICAL
(range-partitioned on ts — equal timestamps never straddle files), the
cross-batch admission order equals the global order, so the admitted
set is EXACTLY the batch row_number ≤ N per key: full oracle for both
the single-pass and multi-batch forms.

Scale: state is O(active user-hours) counters (a few bytes each, and a
watermark would expire closed hours on a real deployment); the shuffle
is the one keyed exchange any stateful op pays. The admitted output is
quota-bounded — downstream stages see at most N × keys rows per hour
regardless of input volume, which is the whole point of the operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import drain
from .ops import _events_stream, _events_stream_multi

_QUOTA_N = 3

_QUOTA_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("hr_us", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("rn", T.LongType()),
    ]
)
# State is keyed by USER with an hour->count map inside (JSON): an
# early version keyed by (user, hour) instead and spent 30 s at sf0.1
# purely on per-group pandas dispatch over 10x the group count — the
# per-key state payload is bytes either way, but group COUNT is what
# applyInPandasWithState wall time scales with. A real deployment
# would also expire closed hours from the map via a timeout.
_QUOTA_STATE_SCHEMA = T.StructType([T.StructField("hours_json", T.StringType())])


def _quota_state_fn(key, pdf_iter, state):
    import json

    import pandas as pd

    counts = json.loads(state.get[0]) if state.exists else {}
    out = []
    # Concatenate ALL Arrow chunks before the sort: a key whose
    # micro-batch rows span multiple chunks (>~10k rows/key/batch)
    # would otherwise be admitted in chunk order, not global
    # (ts, event_id) order, diverging from the row_number oracle.
    # Memory bound: one key's one-batch rows — the same bound the
    # per-chunk loop already implied for correctness.
    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts_us", "event_id"]
        )
        for hr, eid in zip(pdf["hr_us"], pdf["event_id"]):
            h = str(int(hr))
            c = counts.get(h, 0)
            if c < _QUOTA_N:
                counts[h] = c + 1
                out.append((int(key[0]), int(hr), int(eid), c + 1))
    state.update((json.dumps(counts),))
    yield pd.DataFrame(out, columns=["user_id", "hr_us", "event_id", "rn"])


def _rate_limit(ev: DataFrame) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = ev.select(
        "user_id",
        F.unix_micros(F.date_trunc("hour", "ts")).alias("hr_us"),
        F.unix_micros("ts").alias("ts_us"),
        F.col("event_id").cast("long").alias("event_id"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        _quota_state_fn,
        outputStructType=_QUOTA_OUT_SCHEMA,
        stateStructType=_QUOTA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return drain(
        _rate_limit(_events_stream(spark, sf_dir)), mode="update"
    )[0]


def stream_rate_limit_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quota counters resume from the state store across the 4-batch
    chronological replay — an over-admit or re-admit would diverge
    from the batch row_number oracle immediately."""
    return drain(
        _rate_limit(_events_stream_multi(spark, sf_dir)), mode="update", min_batches=2
    )[0]


_RATE_LIMIT_SQL = f"""
WITH ranked AS (
  SELECT user_id,
         epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hr_us,
         event_id,
         ROW_NUMBER() OVER (
           PARTITION BY user_id, date_trunc('hour', CAST(ts AS TIMESTAMP))
           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
  FROM events)
SELECT user_id, CAST(hr_us AS BIGINT) AS hr_us,
       CAST(event_id AS BIGINT) AS event_id, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {_QUOTA_N}
"""

QUERIES = {
    "stream_rate_limit": stream_rate_limit,
    "stream_rate_limit_multi": stream_rate_limit_multi,
}
ORACLE = {
    "stream_rate_limit": _RATE_LIMIT_SQL,
    "stream_rate_limit_multi": _RATE_LIMIT_SQL,
}
