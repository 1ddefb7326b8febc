"""Seeded star-schema tables for the query-mix workload.

Writes the ten tables the query registry reads (``registry.TABLES``),
one Parquet file each, with the schemas and value ranges of the
project's query fixtures: independent uniform TPC-H-style columns, an
``events`` click stream, a ``documents`` corpus drawn from a small
vocabulary with 5% near-duplicates (a copy plus a trailing ``dup``
token) and unit-norm 64-dimensional ``embeddings``. The same seed gives
byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)


def _day(days: np.ndarray, start: str) -> pa.Array:
    d = np.datetime64(start) + days.astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs, n_vecs = 500, 500
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, n_cust)]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adjectives = ("blue", "red", "green", "small", "large", "steel", "brass", "shiny")
    nouns = ("anvil", "bolt", "gear", "ring", "widget", "spring", "valve", "nut")
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([
            f"{adjectives[a]} {nouns[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
        )[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _day(rng.integers(0, 2404, n_ord), "1995-01-01"),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)]),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": _day(rng.integers(0, 2499, n_line), "1995-01-02"),
    })
    gaps_us = np.maximum(1, rng.exponential(259e6, n_evt)).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype(
        "timedelta64[us]"
    )
    out["events"] = pa.table({
        "event_id": pa.array(range(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": pa.array(np.array(
            ["click", "error", "purchase", "signup", "view"]
        )[rng.integers(0, 5, n_evt)]),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), n_words)))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return out


def write_tables(sf_dir: str, seed: int, sf: float) -> int:
    """Write every table under ``sf_dir``; returns the total bytes."""
    os.makedirs(sf_dir, exist_ok=True)
    total = 0
    for name, table in tables(seed, sf).items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        total += os.path.getsize(path)
    return total
