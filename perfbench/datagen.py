"""Seeded synthetic inputs with the shape of the engine's test tables.

Each table matches the schema, parquet layout (one file, one row group,
microsecond timestamps) and value ranges of the star schema the engine
documents in ``FIXTURES.md``: TPC-H-like dimension and fact tables, an
``events`` stream, a ``documents`` corpus in which 5% of the documents
are another document plus a trailing ``dup`` token, and unit-norm 64-d
``embeddings``.  Row counts scale with ``sf`` the same way (lineitem is
6M x sf).  The same ``(seed, sf)`` always writes the same bytes.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "hot", "large", "dark", "green", "light", "small", "red"]
_PART_NOUN = ["ring", "bolt", "gear", "nut", "plate", "screw", "valve", "pipe"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_LANGS = ["en", "de", "es", "fr", "zh"]
_DOC_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _us(y: int, m: int, d: int) -> int:
    return int(datetime(y, m, d, tzinfo=timezone.utc).timestamp() * 1_000_000)


def _days(rng, n: int, lo: tuple, hi: tuple) -> pa.Array:
    day = 86_400_000_000
    a, b = _us(*lo) // day, _us(*hi) // day
    return pa.array(rng.integers(a, b + 1, n) * day, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": max(1_500, round(1_500_000 * sf)),
        "lineitem": max(6_000, round(6_000_000 * sf)),
        "events": max(1_000, round(1_000_000 * sf)),
        "users": max(15, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _region(rng, n):
    return {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(_REGIONS)}


def _nation(rng, n):
    return {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }


def _customer(rng, n):
    k = n["customer"]
    return {
        "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
        "c_nationkey": pa.array(rng.integers(0, 25, k, dtype=np.int32)),
        "c_acctbal": _money(rng, k, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, _SEGMENTS, k),
    }


def _supplier(rng, n):
    k = n["supplier"]
    return {
        "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
        "s_nationkey": pa.array(rng.integers(0, 25, k, dtype=np.int32)),
        "s_acctbal": _money(rng, k, -999.99, 9999.99),
    }


def _part(rng, n):
    k = n["part"]
    adj = rng.integers(0, len(_PART_ADJ), k)
    noun = rng.integers(0, len(_PART_NOUN), k)
    return {
        "p_partkey": pa.array(np.arange(k, dtype=np.int64)),
        "p_name": pa.array([f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)]),
        "p_type": _pick(rng, _PART_TYPES, k),
        "p_size": pa.array(rng.integers(1, 51, k, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10.0, 1),
    }


def _orders(rng, n):
    k = n["orders"]
    return {
        "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
        "o_totalprice": _money(rng, k, 1000.0, 500000.0),
        "o_orderdate": _days(rng, k, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": _pick(rng, _PRIORITIES, k),
    }


def _lineitem(rng, n):
    k = n["lineitem"]
    return {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n["part"], k, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, k, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, k, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], k),
        "l_linestatus": _pick(rng, ["F", "O"], k),
        "l_shipdate": _days(rng, k, (1995, 1, 2), (2001, 11, 4)),
    }


def _events(rng, n):
    k = n["events"]
    ts = np.sort(rng.integers(_us(2024, 1, 1), _us(2024, 1, 31), k))
    return {
        "event_id": pa.array(np.arange(k, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], k, dtype=np.int64)),
        "event_type": _pick(rng, _EVENT_TYPES, k),
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
    }


def _documents(rng, n):
    k = n["documents"]
    words = np.asarray(_VOCAB, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
        for _ in range(k)
    ]
    for i in rng.choice(k, k // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, k))].removesuffix(" dup") + " dup"
    return {
        "doc_id": pa.array(np.arange(k, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _DOC_LANGS, k, p=_DOC_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(k)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n):
    k = n["embeddings"]
    vecs = rng.standard_normal((k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(k, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, k, dtype=np.int32)),
    }


_BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def generate(out_dir: str, seed: int, sf: float, tables=TABLES) -> dict[str, int]:
    """Write ``tables`` as ``<out_dir>/<table>.parquet``; return row counts.

    Each table draws from its own random stream, so its content does not
    depend on which other tables were asked for.
    """
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in tables:
        cols = _BUILDERS[name](np.random.default_rng([seed, TABLES.index(name)]), _sizes(sf))
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
