"""Seeded generator for the ten parquet tables the catalog queries read.

The tables follow the layout the engine's loaders expect (``tables.load``
and ``tables.assert_contract``): TPC-H-shaped star schema, an ``events``
table for January 2024, a small text corpus with planted near-duplicates
and unit-norm 64-dim embeddings. Every value is a pure function of the
seed and the row counts, so one seed always gives the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "cold", "new")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "rod", "plate", "anvil")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")

US_PER_DAY = 86_400 * 1_000_000

# The catalog-key workloads: the keys one pass runs and the sizes of the
# generated tables.
SCAN_WORKLOADS = {
    "report-scan": {
        "keys": ("tpch-q1", "tpch-q6", "op-groupagg-count", "plan-alert-report",
                 "op-merge-upsert"),
        "scale": 0.1, "documents": 100, "embeddings": 100,
    },
}


def _day_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _dates(rng, n: int, lo: tuple, hi: tuple) -> pa.Array:
    """Midnight timestamps, uniform over the days in [lo, hi]."""
    a, b = _day_us(*lo) // US_PER_DAY, _day_us(*hi) // US_PER_DAY
    days = rng.integers(a, b + 1, n)
    return pa.array(days * US_PER_DAY, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def star_tables(rng, n_customer: int, n_supplier: int, n_part: int,
                n_orders: int, n_lineitem: int) -> dict[str, pa.Table]:
    i32 = pa.int32()
    region = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_customer), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customer)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_customer), i32),
        "c_acctbal": _money(rng, n_customer, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_customer)})
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supplier), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supplier)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supplier), i32),
        "s_acctbal": _money(rng, n_supplier, -999.99, 9999.99)})
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1)})
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customer, n_orders), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_orders),
        "o_totalprice": _money(rng, n_orders, 1000.0, 500000.0),
        "o_orderdate": _dates(rng, n_orders, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders)})
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_lineitem), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lineitem), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supplier, n_lineitem), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lineitem), i32),
        "l_quantity": rng.integers(1, 51, n_lineitem).astype(np.float64),
        "l_extendedprice": _money(rng, n_lineitem, 900.0, 105000.0),
        "l_discount": np.round(rng.integers(0, 11, n_lineitem) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lineitem) / 100, 2),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_lineitem),
        "l_linestatus": _pick(rng, ("F", "O"), n_lineitem),
        "l_shipdate": _dates(rng, n_lineitem, (1995, 1, 2), (2001, 11, 4))})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def events_table(rng, n: int) -> pa.Table:
    """Time-ordered events over January 2024 (µs, naive timestamps)."""
    lo = _day_us(2024, 1, 1)
    ts = np.sort(rng.integers(lo, lo + 31 * US_PER_DAY, n))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n // 66), n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents_table(rng, n: int, dup_share: float = 0.05) -> pa.Table:
    """Random 10-99 word texts; a ``dup_share`` of them copy an earlier
    text and append " dup", so the near-duplicate keys find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < dup_share:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings_table(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def generate(out_dir: str, seed: int, scale: float, n_documents: int,
             n_embeddings: int) -> None:
    """Write all ten tables under ``out_dir``. ``scale`` sizes the star
    schema and events like a TPC-H scale factor (0.01 -> 60k lineitem
    rows); the corpus sizes are given directly."""
    rng = np.random.default_rng(seed)
    n = lambda base: max(1, int(base * scale))  # noqa: E731
    out = star_tables(rng, n(150_000), n(10_000), n(200_000),
                      n(1_500_000), n(6_000_000))
    out["events"] = events_table(rng, n(1_000_000))
    out["documents"] = documents_table(rng, n_documents)
    out["embeddings"] = embeddings_table(rng, n_embeddings)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in out.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
