"""Seeded generator for the benchmark's input tables.

Writes the ten tables the registry queries read (``region`` … ``lineitem``,
``events``, ``documents``, ``embeddings``) as one parquet file each, with the
schemas of the repository's synthetic test data and similar value
distributions.  The same seed always gives byte-identical tables, so
a run's inputs are fixed by its ``--seed``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64

# row counts of the repository's sf0.01 test tier
CUSTOMERS, SUPPLIERS, PARTS, ORDERS, LINEITEMS = 1_500, 100, 2_000, 15_000, 60_000
EVENTS, DOCUMENTS, EMBEDDINGS = 10_000, 500, 500


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def build_tables(seed: int) -> dict[str, pa.Table]:
    """Return every table as an Arrow table, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(CUSTOMERS), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(CUSTOMERS)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, CUSTOMERS), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, CUSTOMERS),
        "c_mktsegment": _pick(rng, SEGMENTS, CUSTOMERS)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(SUPPLIERS), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(SUPPLIERS)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, SUPPLIERS), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, SUPPLIERS)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(PARTS), pa.int64()),
        "p_name": _pick(rng, names, PARTS),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, PARTS)], pa.string()),
        "p_type": _pick(rng, PART_TYPES, PARTS),
        "p_size": pa.array(rng.integers(1, 51, PARTS), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(PARTS) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, CUSTOMERS, ORDERS), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, ORDERS),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", ORDERS)),
        "o_orderpriority": _pick(rng, PRIORITIES, ORDERS)})
    n = LINEITEMS
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ORDERS, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, PARTS, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SUPPLIERS, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n))})
    t["events"] = _events(rng, EVENTS)
    t["documents"] = _documents(rng, DOCUMENTS)
    vecs = rng.standard_normal((EMBEDDINGS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, EMBEDDINGS), pa.int32())})
    return t


def _events(rng, n: int) -> pa.Table:
    # a month of strictly increasing microsecond timestamps, one per event
    span_us = 30 * 86_400_000_000
    offsets = np.sort(rng.choice(span_us, n, replace=False))
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    users = max(1, int(n * 0.015))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array((start + offsets).astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string())})


def _documents(rng, n: int) -> pa.Table:
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
             for _ in range(n)]
    # one document in twenty is a near-duplicate: another document's text
    # with a marker word appended
    dup = rng.random(n) < 0.05
    originals = np.flatnonzero(~dup)
    for i in np.flatnonzero(dup):
        texts[i] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def write_tables(out_dir: str, seed: int) -> str:
    """Write every table to ``out_dir/<table>.parquet`` and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
