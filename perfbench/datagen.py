"""Seeded synthetic tables in the catalog's layout (one parquet per table).

The generated tables follow the schemas and value ranges of the project's
TPC-H-shaped test data (``catalog.TABLES``), so every registered query and
its DuckDB oracle run on them unchanged. ``sf`` scales row counts the same
way (``sf=0.1`` gives 600k lineitem rows and 5000 documents); the same
``(seed, sf)`` always writes byte-identical values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
# The documents table follows the project's test fixture (TESTDATA.md; its
# sf0.1 documents.parquet, measured): texts of 10-100 words drawn uniformly
# from a closed 30-word vocabulary, and 5% of documents a copy of another
# one with the marker token ``dup`` appended. The saturated shingle space is
# what the dedup and index queries are sized against.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
WORDS = (10, 100)  # words per document, inclusive
NEAR_DUP_SHARE = 0.05


def _days(lo: str, hi: str, n: int, rng: np.random.Generator) -> np.ndarray:
    start = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - start).astype(int))
    return (start + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in range(n)]


def document_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Space-separated texts of ``WORDS`` words over ``VOCAB``; a
    ``NEAR_DUP_SHARE`` of them are another document plus `` dup``."""
    lengths = rng.integers(WORDS[0], WORDS[1] + 1, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(VOCAB[w] for w in words[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    dups = np.flatnonzero(rng.random(n) < NEAR_DUP_SHARE)
    sources = (dups + rng.integers(1, max(2, n), len(dups))) % n  # never itself
    base = list(texts)
    for i, src in zip(dups, sources):
        texts[i] = base[src] + " dup"
    return texts


def _region(rng: np.random.Generator, sf: float) -> pa.Table:
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})


def _nation(rng: np.random.Generator, sf: float) -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
        }
    )


def _customer(rng: np.random.Generator, sf: float) -> pa.Table:
    n = _rows("customer", sf)
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": _names("Customer", n),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
        }
    )


def _supplier(rng: np.random.Generator, sf: float) -> pa.Table:
    n = _rows("supplier", sf)
    return pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": _names("Supplier", n),
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )


def _part(rng: np.random.Generator, sf: float) -> pa.Table:
    n = _rows("part", sf)
    return pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(rng.uniform(900.0, 999.9, n), 1),
        }
    )


def _orders(rng: np.random.Generator, sf: float) -> pa.Table:
    n = _rows("orders", sf)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, _rows("customer", sf), n), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
            "o_orderdate": _days("1995-01-01", "2001-08-01", n, rng),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
        }
    )


def _lineitem(rng: np.random.Generator, sf: float) -> pa.Table:
    n = _rows("lineitem", sf)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, _rows("orders", sf), n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, _rows("part", sf), n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, _rows("supplier", sf), n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _days("1995-01-02", "2001-11-04", n, rng),
        }
    )


def _events(rng: np.random.Generator, sf: float) -> pa.Table:
    n = _rows("events", sf)
    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // n, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps),
            "user_id": pa.array(rng.integers(0, max(10, n // 66), n), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(60.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng: np.random.Generator, sf: float) -> pa.Table:
    n = _rows("documents", sf)
    texts = document_texts(rng, n)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{k % 20}" for k in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, sf: float) -> pa.Table:
    n = _rows("embeddings", sf)
    emb = rng.standard_normal((n, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


# rows per unit of scale factor
_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
_TABLES = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def _rows(name: str, sf: float) -> int:
    return max(10, int(_PER_SF[name] * sf))


def tables(seed: int, sf: float, names=None) -> dict[str, pa.Table]:
    """The tables in ``names`` (default: all). Each table draws from its own
    generator, so a subset holds the same values as the full set."""
    return {
        name: build(np.random.default_rng([seed, i]), sf)
        for i, (name, build) in enumerate(_TABLES.items())
        if names is None or name in names
    }


def write_tables(sf_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``sf_dir/<name>.parquet``; returns row counts."""
    os.makedirs(sf_dir, exist_ok=True)
    counts = {}
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts

