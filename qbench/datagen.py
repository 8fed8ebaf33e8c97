"""Seeded generator for the ten fixture tables the registry queries read.

The tables mirror the fixtures described in FIXTURES.md: the same
columns, parquet types, row counts per scale factor and value distributions
(uniform keys and categories, exponential event values, ~monotonic event
timestamps, documents with exact and ``" dup"`` near-duplicates, unit-norm
64-d float embeddings). The same ``(seed, sf)`` always writes the same bytes.

Each tier is written as one single-row-group parquet file per table into a
directory named ``sf<scale>`` because the engine's scale gates read the
scale factor from the directory name.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBEDDING_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)


def _micros(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _days(rng: np.random.Generator, lo: dt.datetime, hi: dt.datetime, n: int) -> pa.Array:
    """Midnight timestamps drawn uniformly from the days in [lo, hi]."""
    span = (hi - lo).days + 1
    us = _micros(lo) + rng.integers(0, span, n) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _i32(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype=np.int32))


def _i64(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype=np.int64))


def _documents(rng: np.random.Generator, n: int, exact_dups: int) -> pa.Table:
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))) for _ in range(n)]
    # ~5% near-duplicates: another document's text with " dup" appended.
    for i in rng.choice(n, max(1, n // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    # exact-duplicate clusters (the bench tier has a handful of pairs)
    for i, j in rng.choice(n, (exact_dups, 2), replace=False):
        texts[j] = texts[i]
    return pa.table({
        "doc_id": _keys(n),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBEDDING_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.reshape(-1), pa.float32()), EMBEDDING_DIM)
    return pa.table({
        "vec_id": _keys(n),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables of one tier, drawn from ``seed``."""
    rng = np.random.default_rng([seed, round(sf * 1000)])
    n_cust, n_supp, n_part = round(150_000 * sf), round(10_000 * sf), round(200_000 * sf)
    n_ord, n_line, n_ev = round(1_500_000 * sf), round(6_000_000 * sf), round(1_000_000 * sf)
    n_users = round(15_000 * sf)
    n_docs, n_emb = max(500, round(50_000 * sf)), max(500, round(20_000 * sf))

    out = {
        "region": pa.table({"r_regionkey": _i32(range(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": _i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": _i32([i % 5 for i in range(25)]),
        }),
        "customer": pa.table({
            "c_custkey": _keys(n_cust),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": _i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": _keys(n_supp),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": _i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": _keys(n_part),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n_part, 2))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": _i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": _keys(n_ord),
            "o_custkey": _i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ORDER_STATUS, n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": _i64(rng.integers(0, n_ord, n_line)),
            "l_partkey": _i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": _i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": _i32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_line),
        }),
        "events": pa.table({
            "event_id": _keys(n_ev),
            "ts": pa.array(
                np.sort(_micros(dt.datetime(2024, 1, 1)) + rng.integers(0, 30 * 86_400_000_000, n_ev)),
                pa.timestamp("us"),
            ),
            "user_id": _i64(rng.integers(0, n_users, n_ev)),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }),
        "documents": _documents(rng, n_docs, exact_dups=8 if sf >= 0.1 else 0),
        "embeddings": _embeddings(rng, n_emb),
    }
    return out


def write_tier(root: str, seed: int, sf: float) -> str:
    """Write one tier under ``root`` and return its ``sf<scale>`` directory."""
    sf_dir = os.path.join(root, f"sf{sf:g}")
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"), row_group_size=1 << 30)
    return sf_dir
