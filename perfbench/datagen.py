"""Deterministic input tables for the benchmark.

Writes the ten tables the query registry reads (``region`` ...
``embeddings``) as one parquet file each, with the schema, key ranges
and value distributions of the project's TPC-H-shaped fixtures:
uniform foreign keys, two-decimal prices, naive microsecond
timestamps, a 31-word document vocabulary with 5% near-duplicate
documents, unit-norm 64-d embeddings. Row counts scale with ``sf``
(sf 0.01: 60,000 lineitems, 10,000 events).

The tables depend only on ``sf``, so a checkout builds them once.
The per-run seed never changes a table: it reorders the batch
workloads and draws the stream's arrival delays (``stream_input``).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - EPOCH) // dt.timedelta(microseconds=1)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.datetime, end: dt.datetime, n) -> np.ndarray:
    span = (end - start).days
    return _us(start) + rng.integers(0, span + 1, n) * 86_400_000_000


def build_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = 500, 500
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": list(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {n}" for a in ADJECTIVES for n in NOUNS]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        # every customer orders at least once, as in the fixtures
        "o_custkey": np.concatenate([np.arange(n_cust),
                                     rng.integers(0, n_cust, n_ord - n_cust)]
                                    ).astype("int64")[rng.permutation(n_ord)],
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(_days(rng, dt.datetime(1995, 1, 1),
                                 dt.datetime(2001, 8, 1), n_ord)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("F", "O"), n_line),
        "l_shipdate": _ts(_days(rng, dt.datetime(1995, 1, 2),
                                dt.datetime(2001, 11, 4), n_line))})
    start, month_us = _us(dt.datetime(2024, 1, 1)), 30 * 86_400_000_000
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(np.sort(start + rng.integers(0, month_us, n_ev))),
        "user_id": rng.integers(0, max(int(15_000 * sf), 15), n_ev).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100)))
             for _ in range(n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[(i + int(rng.integers(1, n_doc))) % n_doc] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"), "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=(0.44, 0.14, 0.14, 0.14, 0.14)),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64")})
    emb = rng.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def write_tables(out_dir: str, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def stream_input(events: pa.Table, seed: int, max_delay_s: float) -> pa.Table:
    """The replayed stream: every event, arriving at ``ts`` plus a
    seeded delay below ``max_delay_s``, in arrival order. ``arrival``
    is unique, so arrival order is total."""
    rng = np.random.default_rng(seed)
    ts = events.column("ts").cast(pa.int64()).to_numpy()
    arrival = ts + rng.integers(0, int(max_delay_s * 1e6), events.num_rows)
    order = np.argsort(arrival, kind="stable")
    # break ties by nudging later events forward 1 µs at a time
    steps = np.arange(len(order))
    arrival = np.maximum.accumulate(arrival[order] - steps) + steps
    return events.take(order).append_column("arrival", _ts(arrival))
