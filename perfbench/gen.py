"""Deterministic input tables for the benchmark.

Builds the ten parquet tables the engine reads (``region nation customer
supplier part orders lineitem events documents embeddings``), modelled on
the engine's TPC-H-style test tables and scaled by ``sf`` (sf 0.1 =
600,000 lineitem rows). As in those tables, every key is drawn uniformly
(no popularity skew), timestamps are stored as TIMESTAMP(MICROS) without
a time zone, and the row counts follow the same formulas. The same
``(seed, sf)`` always yields byte-identical tables.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "large", "hot", "blue", "old", "cold", "new"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "gear", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMB_DIM = 64


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _keys(n: int) -> np.ndarray:
    return np.arange(n, dtype=np.int64)


def build(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, a pure function of ``(seed, sf)``."""
    rng = np.random.default_rng([seed, int(round(sf * 1_000_000))])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": _keys(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": _keys(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": _keys(n_part),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": _keys(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        # rounded from a continuous draw, so the two end values are half
        # as frequent as the others
        "l_discount": _money(rng, n_line, 0.0, 0.10),
        "l_tax": _money(rng, n_line, 0.0, 0.08),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    # a month of events at increasing timestamps, ~67 per user
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n_events))
    ts = ts + np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": _keys(n_events),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    # bag-of-words documents; 5% are an earlier document plus " dup", which
    # gives the near-duplicate operators real pairs to find
    texts: list[str] = []
    vocab = np.asarray(WORDS, dtype=object)
    lens = rng.integers(10, 101, n_docs)
    dup = rng.random(n_docs) < 0.05
    for i in range(n_docs):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(WORDS), lens[i])]))
    out["documents"] = pa.table({
        "doc_id": _keys(n_docs),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vecs, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": _keys(n_vecs),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    return out


def write(out_dir: str, seed: int, sf: float) -> str:
    """Write the tables under ``out_dir`` unless a finished copy is there.

    A ``_DONE`` marker is written last, so an interrupted write is redone
    rather than read half-finished."""
    done = Path(out_dir, "_DONE")
    if done.exists():
        return out_dir
    Path(out_dir).mkdir(parents=True, exist_ok=True)
    for name, table in build(seed, sf).items():
        tmp = Path(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, Path(out_dir, f"{name}.parquet"))
    done.write_text(f"seed={seed} sf={sf}\n")
    return out_dir

