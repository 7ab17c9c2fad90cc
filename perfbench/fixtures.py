"""Deterministic fixture generator for the benchmark.

Writes the ten tables the engine's catalog registers (``region nation
customer supplier part orders lineitem events documents embeddings``),
one single-row-group Parquet file each, with the schemas and value
distributions of the project's seed-42 test fixtures (see FIXTURES.md):
uniform TPC-H-style keys and measures, a 30-day event stream, a
30-word document corpus with 5% near-duplicates and a few exact
duplicates, and 64-d unit embeddings around ten label centroids.

The same ``(seed, sf)`` always produces byte-identical files, so a run
never depends on data outside its checkout.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
_NOUN = ["ring", "bolt", "plate", "nut", "gear", "pipe", "valve", "screw"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _days(rng, n: int, start: dt.date, end: dt.date) -> np.ndarray:
    """``n`` uniform midnight timestamps (µs) in ``[start, end]``."""
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = int(50_000 * sf)
    n_vec = int(20_000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, _SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": _choice(rng, names, n_part),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _choice(rng, _TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _choice(rng, _PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": _choice(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = pa.table(_documents(rng, n_docs))
    out["embeddings"] = pa.table(_embeddings(rng, n_vec))
    return out


def _documents(rng, n: int) -> dict:
    """Random 10-100 word texts; 5% are an earlier text plus ``" dup"``
    and 8 are exact copies of an earlier text (new lang/source)."""
    texts = [
        " ".join(rng.choice(_WORDS, int(k)))
        for k in rng.integers(10, 101, n)
    ]
    lo = n // 3
    near = rng.choice(np.arange(lo, n), n // 20, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, lo))] + " dup"
    exact = rng.choice(np.setdiff1d(np.arange(lo, n), near), 8, replace=False)
    for i in exact:
        texts[i] = texts[int(rng.integers(0, lo))]
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _choice(rng, _LANGS, n, p=_LANG_P),
        "source": _choice(rng, [f"src{i}" for i in range(20)], n),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> dict:
    """Unit vectors: Gaussian noise around weak per-label centroids."""
    centers = rng.normal(0.0, 0.075, (labels, dim))
    label = rng.integers(0, labels, n)
    x = rng.normal(0.0, 1.0, (n, dim)) / np.sqrt(dim) + centers[label]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }


def generate(out_dir: str, seed: int = 42, sf: float = 0.1) -> None:
    """Write every table into ``out_dir`` (created if missing)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
