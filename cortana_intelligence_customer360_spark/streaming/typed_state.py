"""transformWithStateInPandas typed-state depth ops (round 6).

stream_transform_state (ops.py) proved the ValueState path; these ops
cover the REST of the Spark-4 arbitrary-state surface — MapState,
ListState, and event-time timers — which also exercises every message
family of the vendored protobuf runtime (MapStateCall with paginated
iterators, ListStateCall with appendList / paginated get,
TimerStateCallCommand + ExpiryTimerRequest).

Oracle strategy: map and list ops emit MONOTONE per-key aggregates
every batch (counts / min / max / integer sums), so the final (max-n)
emission per key equals the batch aggregate under ANY micro-batch
split — full oracles. The timer op is inherently batch-boundary
DEPENDENT (a timer fires only when a LATER batch's watermark passes
it; a single-batch run fires none), so it is declared R/S-tier
rows-only, with its semantics pinned by tests/test_streaming.py
(fired set == users whose deadline precedes the penultimate-batch
watermark, recomputed from the replay files).

Scale: state per key is O(#event_types) (map), O(#purchases) (list),
O(1) (timer); all shuffles are key-partitioned state exchanges — the
same shape that runs on a 1000-executor cluster with RocksDB state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.stateful_processor import StatefulProcessor
from pyspark.sql.window import Window

from ..session import drain, session_conf
from ..sources.tables import load_table
from .ops import (
    _ROCKSDB_CONF,
    _docs_stream,  # noqa: F401  (kept for symmetry; events used below)
    _events_stream,
    _events_stream_multi,
    _pbshim,
)

_MAP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)


class _TypeCountProcessor(StatefulProcessor):
    """MapState[event_type -> running count]; emits the FULL map each
    batch. Counts are additive, so the map after the last batch equals
    the batch groupBy no matter how the stream was split."""

    def init(self, handle) -> None:
        self._map = handle.getMapState("type_counts", "event_type string", "n long")

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd
        from collections import Counter

        # One paginated iterator() read of the whole map replaces the
        # per-event-type getValue round trips AND the post-update
        # re-read: every map-state call is a synchronous state-server
        # socket RPC from the Python worker (guide §4 boundary cost),
        # and this key's map is tiny (|event types|), so read it once,
        # merge locally, write back only the types this batch touched.
        # The merged dict IS the post-update map, so the emission is
        # byte-identical to re-iterating the store.
        counts = {k[0]: int(v[0]) for k, v in self._map.iterator()}
        touched = Counter()
        for pdf in rows:
            if not len(pdf):
                continue
            touched.update(pdf["event_type"].tolist())
        for et, c in touched.items():
            et = str(et)
            counts[et] = counts.get(et, 0) + int(c)
            self._map.updateValue((et,), (counts[et],))
        yield pd.DataFrame(
            {
                "user_id": key[0],
                "event_type": list(counts.keys()),
                "n": list(counts.values()),
            }
        )

    def close(self) -> None:
        pass


_LIST_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_purch", T.LongType()),
        T.StructField("min_eid", T.LongType()),
        T.StructField("max_eid", T.LongType()),
        T.StructField("sum_eid", T.LongType()),
    ]
)


class _PurchaseLogProcessor(StatefulProcessor):
    """ListState append-only log of purchase event_ids; each batch
    re-aggregates the FULL list (count/min/max/integer-sum — all
    order-independent), so the last emission equals the batch
    aggregate. Exercises appendList + the paginated list get."""

    def init(self, handle) -> None:
        self._log = handle.getListState("purchases", "event_id long")

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        new = []
        for pdf in rows:
            # plain-list filter instead of a pandas boolean mask: the
            # masked .loc costs ~0.2 ms per key per batch on ~17-row
            # frames (guide §4.2 — pandas machinery dominates tiny
            # groups); identical order and values.
            new.extend(
                int(e)
                for e, t in zip(
                    pdf["event_id"].tolist(), pdf["event_type"].tolist()
                )
                if t == "purchase"
            )
        if new:
            self._log.appendList([(v,) for v in new])
        eids = [int(t[0]) for t in self._log.get()]
        if eids:
            yield pd.DataFrame(
                [
                    (
                        key[0],
                        len(eids),
                        min(eids),
                        max(eids),
                        sum(eids),
                    )
                ],
                columns=["user_id", "n_purch", "min_eid", "max_eid", "sum_eid"],
            )

    def close(self) -> None:
        pass


_TIMER_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("fire_ms", T.LongType()),
    ]
)

_TIMER_DELAY_MS = 60 * 60 * 1000  # deadline: first event + 1 hour


class _DeadlineTimerProcessor(StatefulProcessor):
    """Per-user event-time timer at first_event + 1 h; emits
    (user_id, expiry_ms) when the watermark crosses it. The emission
    value depends only on the user's first event time, so WHAT fires
    is watermark-driven (batch-dependent) but each fired row's value
    is deterministic."""

    def init(self, handle) -> None:
        self._handle = handle
        self._first = handle.getValueState("first_ts", "first_ms long")

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        prev = self._first.get()  # None <=> state unset (no exists() RPC)
        first = prev[0] if prev is not None else None
        for pdf in rows:
            if not len(pdf):
                continue
            mn = int(pdf["ts_ms"].min())
            if first is None or mn < first:
                first = mn
        if first is not None and prev is None:
            self._first.update((first,))
            self._handle.registerTimer(first + _TIMER_DELAY_MS)
        elif first is not None and first < prev[0]:
            # Re-writing an UNCHANGED value every batch was one update
            # RPC per key per batch for nothing; the stored minimum
            # only moves when a smaller first-event time arrives
            # (never, under chronological replay — but kept correct
            # for arbitrary batch orders).
            self._first.update((first,))
        return iter([])

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        import pandas as pd

        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "fire_ms": [int(expiredTimerInfo.getExpiryTimeInMs())],
            }
        )

    def close(self) -> None:
        pass


def _backlog_drained(progress: list) -> bool:
    """True once a batch read zero input rows after one that read some.
    In ProcessingTime time mode TransformWithStateExec.shouldRunAnotherBatch
    is unconditionally true (processing-time timers/TTL may fire at any
    wall-clock instant), so Trigger.AvailableNow never self-terminates:
    it keeps scheduling empty batches forever (observed: epoch 160+
    against a static 1-file source). The file source is static, so the
    first empty batch after data proves every data batch committed."""
    return (
        any(p["numInputRows"] > 0 for p in progress)
        and progress[-1]["numInputRows"] == 0
    )


def _run_tws(spark, stream, proc, out_schema, *, time_mode="None",
             event_time_col="", min_batches=1, stop_when_drained=False,
             initial_state=None, min_gap_ms=None):
    _pbshim.ship_to_workers(spark)
    with session_conf(spark, _ROCKSDB_CONF):
        out = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=proc,
            outputStructType=out_schema,
            outputMode="Update",
            timeMode=time_mode,
            eventTimeColumnName=event_time_col,
            initialState=initial_state,
        )
        rows, progress = drain(
            out,
            mode="update",
            until=_backlog_drained if stop_when_drained else None,
            min_batches=min_batches,
        )
    if min_gap_ms is not None:
        _assert_batch_gaps(progress, min_gap_ms)
    return rows


def _parse_prog_ts(s: str) -> float:
    """StreamingQueryProgress timestamp (ISO8601 Z, millis optional)
    -> epoch seconds."""
    from datetime import datetime, timezone

    fmt = "%Y-%m-%dT%H:%M:%S.%fZ" if "." in s else "%Y-%m-%dT%H:%M:%SZ"
    return datetime.strptime(s, fmt).replace(tzinfo=timezone.utc).timestamp()


def _assert_batch_gaps(prog: list, min_gap_ms: float) -> None:
    """TTL-harness guard (r7 advice): an op whose oracle depends on
    state expiring BETWEEN micro-batches (ttlDurationMs=1) is only
    sound if consecutive data batches' TRIGGER timestamps are > TTL
    apart: processing-time TTL expiry is evaluated against the batch
    timestamp (batchTimestampMs — state written in batch N expires in
    batch N+1 iff ts_{N+1} > ts_N + ttl), not the wall clock at state
    access. Progress `timestamp` IS that trigger timestamp; if a
    timing fluke ever puts two data batches within TTL, fail LOUDLY as
    a harness issue here instead of surfacing downstream as a phantom
    oracle mismatch."""
    data = sorted(
        (p for p in prog if p["numInputRows"] > 0), key=lambda p: p["batchId"]
    )
    for a, b in zip(data, data[1:]):
        gap_ms = (
            _parse_prog_ts(b["timestamp"]) - _parse_prog_ts(a["timestamp"])
        ) * 1e3
        if gap_ms <= min_gap_ms:
            raise AssertionError(
                "HARNESS TIMING, not a correctness failure: batches "
                f"{a['batchId']}->{b['batchId']} committed {gap_ms:.3f} ms "
                f"apart, <= ttl {min_gap_ms} ms — state cannot have expired"
            )


def _latest_per(df: DataFrame, keys: list[str], seq_col: str) -> DataFrame:
    w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc())
    return (
        df.distinct()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def stream_transform_mapstate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir).select("user_id", "event_type")
    sink = _run_tws(spark, ev, _TypeCountProcessor(), _MAP_OUT_SCHEMA)
    return _latest_per(sink, ["user_id", "event_type"], "n")


def stream_transform_mapstate_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream_multi(spark, sf_dir).select("user_id", "event_type")
    sink = _run_tws(
        spark, ev, _TypeCountProcessor(), _MAP_OUT_SCHEMA, min_batches=2
    )
    return _latest_per(sink, ["user_id", "event_type"], "n")


_MAPSTATE_SQL = """
SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2
"""


def stream_transform_liststate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir).select("user_id", "event_type", "event_id")
    sink = _run_tws(spark, ev, _PurchaseLogProcessor(), _LIST_OUT_SCHEMA)
    return _latest_per(sink, ["user_id"], "n_purch")


def stream_transform_liststate_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream_multi(spark, sf_dir).select(
        "user_id", "event_type", "event_id"
    )
    sink = _run_tws(
        spark, ev, _PurchaseLogProcessor(), _LIST_OUT_SCHEMA, min_batches=2
    )
    return _latest_per(sink, ["user_id"], "n_purch")


_LISTSTATE_SQL = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_purch,
       CAST(MIN(event_id) AS BIGINT) AS min_eid,
       CAST(MAX(event_id) AS BIGINT) AS max_eid,
       CAST(SUM(event_id) AS BIGINT) AS sum_eid
FROM events WHERE event_type = 'purchase'
GROUP BY 1
"""


def stream_transform_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time timers over the 4-batch replay; R/S-tier by design
    (see module docstring): whether a user's deadline fires depends on
    the watermark trajectory across batches, which a batch engine
    cannot express. Values are pinned by tests instead."""
    ev = (
        _events_stream_multi(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .select(
            "user_id",
            "ts",
            (F.unix_micros("ts") / F.lit(1000)).cast("long").alias("ts_ms"),
        )
    )
    sink = _run_tws(
        spark,
        ev,
        _DeadlineTimerProcessor(),
        _TIMER_OUT_SCHEMA,
        time_mode="EventTime",
        event_time_col="",
        min_batches=2,
    )
    return sink.distinct()


_TTL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_batch", T.LongType()),
    ]
)


class _TtlCounterProcessor(StatefulProcessor):
    """ValueState with a 1 ms TTL (TTLConfig — the last Spark-4
    stateful primitive without an op): every micro-batch the previous
    batch's counter has EXPIRED (inter-batch wall-clock gap >> 1 ms),
    so each emission counts exactly that batch's rows and the
    emissions SUM to the per-key total — a full O-tier oracle that
    doubles as expiry accounting: if TTL failed to expire, the counter
    would carry across batches and the sum would exceed COUNT(*)
    (over-count by one prior prefix per extra batch), hash-mismatching
    immediately. The single-batch form pins the TTL code path; the
    _multi 4-batch replay is the cross-batch expiry proof."""

    def init(self, handle) -> None:
        self._n = handle.getValueState("n_ttl", "n long", ttlDurationMs=1)

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        c = 0
        for pdf in rows:
            c += len(pdf)
        prev = self._n.get()  # None <=> prior batch's value expired
        total = (int(prev[0]) if prev is not None else 0) + c
        self._n.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_batch": [total]})

    def close(self) -> None:
        pass


def _ttl_sum(sink: DataFrame) -> DataFrame:
    return sink.groupBy("user_id").agg(
        F.sum("n_batch").cast("long").alias("n_events")
    )


def stream_transform_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir).select("user_id")
    sink = _run_tws(
        spark, ev, _TtlCounterProcessor(), _TTL_OUT_SCHEMA,
        time_mode="ProcessingTime", stop_when_drained=True, min_gap_ms=1,
    )
    return _ttl_sum(sink)


def stream_transform_ttl_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream_multi(spark, sf_dir).select("user_id")
    sink = _run_tws(
        spark, ev, _TtlCounterProcessor(), _TTL_OUT_SCHEMA,
        time_mode="ProcessingTime", min_batches=2, stop_when_drained=True,
        min_gap_ms=1,
    )
    return _ttl_sum(sink)


_TTL_SQL = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY 1
"""


_SEED_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


class _SeededCounterProcessor(StatefulProcessor):
    """Counter whose ValueState is SEEDED from a batch DataFrame via
    handleInitialState (the transformWithState initialState path —
    the batch-backfill-then-stream pattern every migration to a
    stateful pipeline needs). Seeding happens exactly once, before the
    first batch; each emission is seed + running count (monotone), so
    the last emission per key equals seed + COUNT(*) — a double-
    seeding bug (re-applied per batch or per restart) or a dropped
    seed shifts every row and the full-value oracle catches it."""

    def init(self, handle) -> None:
        self._n = handle.getValueState("n", "n long")

    def handleInitialState(self, key, initialState, timerValues) -> None:
        self._n.update((int(initialState["seed"].iloc[0]),))

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        c = 0
        for pdf in rows:
            c += len(pdf)
        prev = self._n.get()  # None <=> unset (handleInitialState may have seeded it)
        base = int(prev[0]) if prev is not None else 0
        total = base + c
        self._n.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [total]})

    def close(self) -> None:
        pass


def _seed_frame(spark: SparkSession, sf_dir: str):
    return (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            "user_id", (F.col("user_id") % 100 + 1).cast("long").alias("seed")
        )
        .groupBy("user_id")
    )


def stream_transform_initial_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir).select("user_id")
    sink = _run_tws(
        spark, ev, _SeededCounterProcessor(), _SEED_OUT_SCHEMA,
        initial_state=_seed_frame(spark, sf_dir),
    )
    return _latest_per(sink, ["user_id"], "n")


def stream_transform_initial_state_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-batch replay: the seed must apply before batch 1 and NEVER
    again — counters then accumulate across batches on top of it."""
    ev = _events_stream_multi(spark, sf_dir).select("user_id")
    sink = _run_tws(
        spark, ev, _SeededCounterProcessor(), _SEED_OUT_SCHEMA,
        min_batches=2, initial_state=_seed_frame(spark, sf_dir),
    )
    return _latest_per(sink, ["user_id"], "n")


_SEED_SQL = """
SELECT user_id,
       CAST(user_id % 100 + 1 + COUNT(*) AS BIGINT) AS n
FROM events GROUP BY user_id
"""


QUERIES = {
    "stream_transform_ttl": stream_transform_ttl,
    "stream_transform_ttl_multi": stream_transform_ttl_multi,
    "stream_transform_initial_state": stream_transform_initial_state,
    "stream_transform_initial_state_multi": stream_transform_initial_state_multi,
    "stream_transform_mapstate": stream_transform_mapstate,
    "stream_transform_mapstate_multi": stream_transform_mapstate_multi,
    "stream_transform_liststate": stream_transform_liststate,
    "stream_transform_liststate_multi": stream_transform_liststate_multi,
    "stream_transform_timers": stream_transform_timers,
}
ORACLE = {
    "stream_transform_ttl": _TTL_SQL,
    "stream_transform_ttl_multi": _TTL_SQL,
    "stream_transform_initial_state": _SEED_SQL,
    "stream_transform_initial_state_multi": _SEED_SQL,
    "stream_transform_mapstate": _MAPSTATE_SQL,
    "stream_transform_mapstate_multi": _MAPSTATE_SQL,
    "stream_transform_liststate": _LISTSTATE_SQL,
    "stream_transform_liststate_multi": _LISTSTATE_SQL,
    # stream_transform_timers: rows-only by design (watermark-driven).
}
