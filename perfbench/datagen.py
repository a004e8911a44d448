"""Seeded synthetic inputs for the benchmark.

Writes the ten catalog tables (TPC-H-ish star schema, the ``events``
stream table and the two LLM-pipeline tables) as one parquet file each,
with the schemas, key relationships and value domains of FIXTURES.md:
dense 0-based keys, ``events.user_id`` covering the first 10% of the
customer keys, word-3-gram near-duplicate documents and weakly
clustered L2-normalised 64-dim embeddings. Row counts depend only on
the size arguments, so every seed does the same amount of work; the
seed picks the values and which keys each fact row points at.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPE = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "fr", "es", "zh", "de"]
_DAY_US = 86_400_000_000


def _epoch_us(day: str) -> int:
    return int(np.datetime64(day, "us").astype(np.int64))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo: str, hi: str, n):
    start, end = _epoch_us(lo), _epoch_us(hi)
    d = rng.integers(0, (end - start) // _DAY_US + 1, n)
    return pa.array(start + d * _DAY_US, pa.timestamp("us"))


def _pick(rng, choices, n):
    return np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)]


def tables(seed: int, sf: float, n_docs: int, n_emb: int) -> dict[str, pa.Table]:
    """Build every table in memory. ``sf`` scales the star schema and
    ``events`` like the scale factors of TESTDATA.md (sf0.01: 60k
    lineitem, 10k events); documents and embeddings are sized separately."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": _pick(rng, _ADJ, n_part) + " " + _pick(rng, _NOUN, n_part),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, _PTYPE, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, _STATUS, n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, _PRIORITY, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        }
    )
    # Events arrive in time order over January 2024 (exponential gaps);
    # every active user (the first 10% of customers) has events.
    span = _epoch_us("2024-01-31") - _epoch_us("2024-01-01")
    gaps = rng.exponential(1.0, n_ev)
    ts = _epoch_us("2024-01-01") + np.cumsum(gaps) / gaps.sum() * (span - 60_000_000)
    n_users = max(1, n_cust // 10)
    users = np.concatenate(
        [np.arange(n_users), rng.integers(0, n_users, n_ev - n_users)]
    )
    rng.shuffle(users)
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts.astype(np.int64), pa.timestamp("us")),
            "user_id": users.astype(np.int64),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    # Documents: 5% are near-duplicates (an earlier text plus " dup").
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = _pick(rng, _WORDS, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    lang_p = [0.4, 0.15, 0.15, 0.15, 0.15]
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.asarray(_LANGS, dtype=object)[rng.choice(5, n_docs, p=lang_p)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    centroids = rng.normal(size=(10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = 0.15 * centroids[labels] + rng.normal(scale=0.125, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return out


def write(out_dir: str, seed: int, sf: float, n_docs: int, n_emb: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf, n_docs, n_emb).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
