"""Seeded generator for the benchmark's input tables.

Writes the ten tables the query registry loads (``region`` ... ``embeddings``,
one ``<name>.parquet`` file each) with the column names, types and value
domains of the TPC-H-like star schema the queries are written against:
order dates 1995-01-01..2001-08-01, ship dates up to 120 days later, five
regions, five market segments, a 30-word document vocabulary with a few
near-duplicate documents, 64-dimensional embeddings in ten labelled
clusters, and a month of events in January 2024.

Every order owns line numbers ``1..n``, so ``(l_orderkey, l_linenumber)``
is a unique key: the lifecycle workload upserts by it.

The same seed and sizes always give byte-identical row values.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "new", "red", "small", "green", "old",
            "dark", "light", "bright", "cold", "soft"]
PART_NOUN = ["anvil", "bolt", "plate", "ring", "rod"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ("a the data table row column key value join hash scan filter sort "
         "group agg order line part customer query spark stream window batch "
         "merge vector fast slow small big").split()


def _ts(days: np.ndarray, base: str) -> np.ndarray:
    return np.datetime64(base, "us") + days.astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, orders: int) -> dict[str, pa.Table]:
    """All ten tables for ``orders`` orders (about 4 lineitems each; the
    dimension and side tables scale with it like TPC-H's sf)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust = max(orders // 10, 50)
    n_supp = max(orders // 150, 10)
    n_part = max(orders * 2 // 15, 50)
    n_events = max(orders * 2 // 3, 500)
    n_docs = max(orders // 30, 100)
    n_vecs = max(orders // 30, 100)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
        rng.integers(0, len(PART_ADJ), n_part),
        rng.integers(0, len(PART_NOUN), n_part))]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names,
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail})

    span = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    odays = rng.integers(0, span + 1, orders)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, orders),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, orders),
        "o_orderdate": _ts(odays, "1995-01-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, orders)]})

    lines = rng.integers(1, 8, orders)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(n_li) - starts + 1).astype(np.int32)
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": pkey,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey]
                                    * rng.uniform(0.98, 1.02, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odays, lines)
                          + rng.integers(1, 121, n_li), "1995-01-01")})

    secs = np.sort(rng.uniform(0, 30 * 86400, n_events))
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us")
        + (secs * 1e6).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(n_events // 60, 20), n_events),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(np.array(VOCAB)[rng.integers(0, len(VOCAB),
                                                      rng.integers(10, 92))])
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centers = rng.normal(0.0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (n_vecs, 64))
            ).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels})
    return out


def write_tables(root: str, seed: int, orders: int) -> dict[str, int]:
    """Write every table to ``root/<name>.parquet``; returns row counts."""
    os.makedirs(root, exist_ok=True)
    counts = {}
    for name, table in tables(seed, orders).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
