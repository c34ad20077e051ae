"""Seeded synthetic corpus in the engine's fixture schema.

The benchmark never reads a corpus it did not make: every run writes its
own ten tables (``region`` … ``embeddings``, one parquet file each, the
column names, physical types and value domains of FIXTURES.md) from the
``--seed``, so the same seed always yields byte-identical inputs.

Row counts follow the fixture's scale-factor rule (lineitem = 6M × scale,
events = 1M × scale, …); distributions are the fixture's: independent
uniform keys and dates, 2-dp money measures, five event types over 30
days of January 2024, space-separated text over a 31-word vocabulary with
planted exact and near duplicates, and unit-norm 64-dim float vectors.

``event_day`` makes one more day of events as JSON lines, with measures
at 4 dp so the program's ingest step (``quantize_measures``) has real
rounding to do before the day is appended.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PART_ADJ = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["ring", "widget", "plate", "rod", "bolt", "gizmo", "gear", "anvil"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line table data agg value key stream window spark a group part "
    "big sort query fast the"
).split()
NEAR_DUP_WORD = "dup"

EVENTS_START = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30
DIM = 64

EVENTS_DDL = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def sizes(scale: float) -> dict[str, int]:
    """Row counts per table at ``scale`` (the fixture's sf rule)."""
    return {
        "supplier": max(10, round(10_000 * scale)),
        "customer": max(15, round(150_000 * scale)),
        "part": max(20, round(200_000 * scale)),
        "orders": max(150, round(1_500_000 * scale)),
        "lineitem": max(600, round(6_000_000 * scale)),
        "events": max(300, round(1_000_000 * scale)),
        "users": max(15, round(15_000 * scale)),
        "documents": max(500, round(50_000 * scale)),
        "embeddings": max(500, round(20_000 * scale)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "D")
    d = base + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path, row_group_size=1 << 30)


def _events(rng, first_id: int, n: int, users: int, t0, seconds: float) -> dict:
    offs = np.sort(rng.uniform(0.0, seconds, n))
    ts = np.datetime64(t0, "us") + (offs * 1e6).astype("timedelta64[us]")
    value = np.maximum(0.01, rng.exponential(50.0, n))
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, users, n, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _documents(rng, n: int) -> list[str]:
    texts: list[str] = []
    vocab = np.array(VOCAB)
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:  # planted exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.03:  # planted near duplicate
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = NEAR_DUP_WORD
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    return texts


def write_corpus(out_dir: str, seed: int, scale: float, events_as_dir: bool = False) -> dict:
    """Write the ten tables under ``out_dir``; returns the row counts.

    ``events_as_dir`` stores events as ``events.parquet/part-00000.parquet``
    so later days can be appended as sibling files."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = sizes(scale)
    i32 = pa.int32()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    c = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)]})

    s = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})

    p = n["part"]
    _write(out_dir, "part", {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2)})

    o = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o, dtype=np.int64),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), o),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)]})

    li = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, o, li, dtype=np.int64),
        "l_partkey": rng.integers(0, p, li, dtype=np.int64),
        "l_suppkey": rng.integers(0, s, li, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), li)})

    ev = _events(rng, 0, n["events"], n["users"], EVENTS_START, EVENT_DAYS * 86400.0)
    ev["value"] = np.round(ev["value"], 2)
    ev_table = pa.table(ev)
    if events_as_dir:
        os.makedirs(os.path.join(out_dir, "events.parquet"), exist_ok=True)
        pq.write_table(ev_table, os.path.join(out_dir, "events.parquet", "part-00000.parquet"))
    else:
        pq.write_table(ev_table, os.path.join(out_dir, "events.parquet"))

    d = n["documents"]
    texts = _documents(rng, d)
    _write(out_dir, "documents", {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    e = n["embeddings"]
    vec = rng.standard_normal((e, DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(e, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, e), i32)})
    return n


def event_day(seed: int, scale: float, day: int) -> str:
    """JSON lines for day ``day`` (0-based; days 0..29 are the base corpus)
    with event ids that continue the base corpus without collisions."""
    n = sizes(scale)
    per_day = max(1, n["events"] // EVENT_DAYS)
    rng = np.random.default_rng([seed, day])
    t0 = EVENTS_START + dt.timedelta(days=day)
    first = n["events"] + (day - EVENT_DAYS) * per_day
    ev = _events(rng, first, per_day, n["users"], t0, 86400.0)
    ev["value"] = np.round(ev["value"], 4)
    lines = []
    for i in range(per_day):
        lines.append(json.dumps({
            "event_id": int(ev["event_id"][i]),
            "ts": str(ev["ts"][i]),
            "user_id": int(ev["user_id"][i]),
            "event_type": str(ev["event_type"][i]),
            "value": float(ev["value"][i]),
            "props": ev["props"][i],
        }))
    return "\n".join(lines) + "\n"
