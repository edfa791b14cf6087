"""Seeded synthetic inputs for the benchmark.

Writes the source tables the corpus queries read (TPC-H-shaped star
schema, an ``events`` stream, ``documents`` with planted exact and near
duplicates, unit-norm ``embeddings``) as one parquet file each. The
same ``(seed, scale)`` always gives the same rows: every value comes
from one ``numpy`` generator seeded with ``seed``.

``scale`` follows TPC-H: lineitem has ``6_000_000 * scale`` rows, so
``scale=0.1`` is 600k lineitem rows (the repo's ``sf0.1`` shape).
Timestamps are written as microsecond, timezone-less parquet
timestamps, which Spark reads as ``TIMESTAMP_NTZ``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "big", "green", "steel", "brass", "tiny"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "nut", "pipe", "valve", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (dt.datetime(d.year, d.month, d.day) - _EPOCH).days


def _ts_from_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int, scale: float, tables) -> dict[str, int]:
    """Write ``tables`` under ``out_dir``; return {table: rows}. Every
    table's values are drawn either way, so a table's contents do not
    depend on which others are written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        if name in tables:
            rows[name] = len(next(iter(cols.values())))
            _write(out_dir, name, cols)

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    n_cust = max(150, int(150_000 * scale))
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })

    n_supp = max(10, int(10_000 * scale))
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })

    n_part = max(200, int(200_000 * scale))
    pk = np.arange(n_part, dtype="int64")
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    put("part", {
        "p_partkey": pk,
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })

    n_ord = max(1500, int(1_500_000 * scale))
    d0, d1 = _days(dt.date(1995, 1, 1)), _days(dt.date(2001, 8, 1))
    odate = rng.integers(d0, d1 + 1, n_ord)
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts_from_days(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    n_li = max(6000, int(6_000_000 * scale))
    lok = rng.integers(0, n_ord, n_li)
    put("lineitem", {
        "l_orderkey": lok.astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_from_days(odate[lok] + rng.integers(-30, 122, n_li)),
    })

    n_ev = max(1000, int(1_000_000 * scale))
    n_users = max(50, int(15_000 * scale))
    t0 = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds() * 1_000_000)
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n_ev))
    put("events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    # documents: random word streams; ~5% are an earlier document plus
    # " dup" (near duplicates) and ~0.2% repeat one verbatim (exact)
    n_doc = max(500, int(50_000 * scale))
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    put("documents", {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })

    n_emb = max(500, int(20_000 * scale))
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype("int32"),
    })
    return rows
