"""Seeded generator for the ten registry tables (TPC-H-like star schema,
an event stream, a document corpus and an embedding table).

The shapes, value domains and row ratios follow the synthetic sf0.1
testdata the registry queries are written against, checked column by
column: uniform foreign keys (so at sf0.1 about one customer in 15k has
no order, as there), uniform categories, cent-rounded amounts,
microsecond timestamps, exponential event values with mean 50, a
30-word vocabulary shared by five languages with 5% of the documents a
copy of another plus the word ``dup``, and unit-norm 64-d Gaussian
embeddings with random labels (no cluster structure). ``scale`` 0.1
gives 600k lineitem rows (about 17 MB of parquet); the same seed always
writes byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "new", "old", "big", "green"]
PART_NOUN = ["ring", "widget", "bolt", "anvil", "rod", "plate", "gear", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window filter query order customer column data join "
    "small big stream group vector"
).split()

# rows at scale 1.0, per table (region and nation are fixed)
ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def row_counts(scale: float) -> dict[str, int]:
    return {t: max(int(n * scale), 10) for t, n in ROWS.items()}


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.timestamp("us"))


def build_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables for ``seed`` at ``scale`` (1.0 = sf1 row counts)."""
    n = row_counts(scale)
    rngs = {
        t: np.random.default_rng([seed, i])
        for i, t in enumerate(sorted(ROWS))
    }
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r, k = rngs["customer"], n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(k), pa.int64()),
            "c_name": _names("Customer", k),
            "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
            "c_acctbal": _cents(r, -999.99, 9999.99, k),
            "c_mktsegment": _pick(r, SEGMENTS, k),
        }
    )

    r, k = rngs["supplier"], n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(k), pa.int64()),
            "s_name": _names("Supplier", k),
            "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
            "s_acctbal": _cents(r, -999.99, 9999.99, k),
        }
    )

    r, k = rngs["part"], n["part"]
    keys = np.arange(k)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": _pick(r, names, k),
            "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], k),
            "p_type": _pick(r, PART_TYPES, k),
            "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        }
    )

    r, k = rngs["orders"], n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(k), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
            "o_orderstatus": _pick(r, ["F", "O", "P"], k),
            "o_totalprice": _cents(r, 1000.0, 500000.0, k),
            "o_orderdate": _ts(_EPOCH_1995 + r.integers(0, 2404, k) * _DAY_US),
            "o_orderpriority": _pick(r, PRIORITIES, k),
        }
    )

    r, k = rngs["lineitem"], n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n["orders"], k), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
            "l_quantity": r.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _cents(r, 900.0, 105000.0, k),
            "l_discount": r.integers(0, 11, k) / 100.0,
            "l_tax": r.integers(0, 9, k) / 100.0,
            "l_returnflag": _pick(r, ["A", "N", "R"], k),
            "l_linestatus": _pick(r, ["F", "O"], k),
            "l_shipdate": _ts(_EPOCH_1995 + r.integers(1, 2499, k) * _DAY_US),
        }
    )

    r, k = rngs["events"], n["events"]
    ts = np.sort(r.integers(0, 30 * _DAY_US, k)) + _EPOCH_2024
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(k), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(r.integers(0, max(k * 3 // 200, 2), k), pa.int64()),
            "event_type": _pick(r, EVENT_TYPES, k),
            "value": np.round(r.exponential(50.0, k), 2),
            "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
        }
    )

    r, k = rngs["documents"], n["documents"]
    lengths = r.integers(10, 101, k)
    words = r.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for m in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + m]))
        pos += m
    # near duplicates: a copy of another document's text plus one word
    dups = r.choice(k, size=k // 20, replace=False)
    originals = np.setdiff1d(np.arange(k), dups)
    for d, o in zip(dups, r.choice(originals, size=len(dups))):
        texts[d] = texts[o] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(k), pa.int64()),
            "text": texts,
            "lang": _pick(r, LANGS, k, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(k)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    r, k = rngs["embeddings"], n["embeddings"]
    labels = r.integers(0, 10, k)
    vecs = r.normal(0.0, 1.0, (k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(k), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table, the layout io.load_table reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
