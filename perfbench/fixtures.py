"""Seeded star-schema + corpus tables for the ``driver_pack`` workload.

Writes the ten parquet tables the registry queries read (``region`` …
``embeddings``, one file each) at the sf0.1 shape of the driver's own
fixtures: the same column names and Arrow types, row counts, key ranges,
categorical vocabularies and the 5% ``… dup`` near-duplicate documents the
dedup family finds.

The values are fixed (drawn from ``CONTENT_SEED``) and the run's seed
shuffles the row order of every table: each seed is a different physical
input with the same answers, so every seed costs the engine the same work
and the DuckDB oracle answers, slow for the connected-components family,
are computed once per checkout and reused (``oracle_key``).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "large", "hot", "cold", "red", "small", "new"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
CONTENT_SEED = 20261017
N_LABELS = 10


def _days(rng, n, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int)) + 1
    return (lo_d + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng) -> pa.Table:
    n = ROWS["documents"]
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 101))])
        for _ in range(n)
    ]
    # 5% near-duplicates: an earlier document's text plus a marker token
    for i in np.sort(rng.choice(np.arange(1, n), n // 20, replace=False)):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng) -> pa.Table:
    n = ROWS["embeddings"]
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    centers = rng.normal(0.0, 0.07, (N_LABELS, EMBED_DIM))
    v = rng.normal(0.0, 1.0, (n, EMBED_DIM)) * 0.125 + centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": labels,
    })


def _tables(rng) -> dict[str, pa.Table]:
    nc, ns, npart = ROWS["customer"], ROWS["supplier"], ROWS["part"]
    no, nl, ne = ROWS["orders"], ROWS["lineitem"], ROWS["events"]
    ev_start = np.datetime64("2024-01-01T00:00:00", "us")
    ev_span_us = 30 * 86_400 * 1_000_000
    return {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": _names("Customer", nc),
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": _names("Supplier", ns),
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [
                f"{a} {b}" for a, b in zip(
                    rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0,
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, no, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, no, nl),
            "l_partkey": rng.integers(0, npart, nl),
            "l_suppkey": rng.integers(0, ns, nl),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
        }),
        "events": pa.table({
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": ev_start + np.sort(rng.integers(0, ev_span_us, ne)),
            "user_id": rng.integers(0, 1500, ne),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }


def write_fixtures(out_dir: str, seed: int) -> str:
    """Write ``{out_dir}/{table}.parquet`` for every table, rows in the
    seed's order; return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    order = np.random.default_rng(seed)
    for name, table in _tables(np.random.default_rng(CONTENT_SEED)).items():
        table = table.take(order.permutation(table.num_rows))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def oracle_key(sql: str) -> str:
    """Names the answer of ``sql`` over these tables: it changes when the
    query or this generator does."""
    h = hashlib.sha256(sql.encode())
    with open(__file__, "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:24]
