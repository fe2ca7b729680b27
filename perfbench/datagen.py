"""Seeded parquet tables for the query workloads.

The registered queries read ten tables (``plans/_tables.py``): a
TPC-H-shaped star schema, an ``events`` stream, ``documents`` and
``embeddings``. This module writes them at scale factor 0.1 (600k
lineitem rows) with the shapes the queries were written against: keys
and measures drawn uniformly and independently, ISO dates as naive
microsecond timestamps, a closed 30-word vocabulary with about 5%
near-duplicate documents, and unit-norm 64-dimensional float32
embeddings.

Tables are a pure function of ``(seed, scale)`` and are cached under
``<work>/data/seed<seed>-sf<scale>/``, written to a temporary directory
and renamed into place, so a run that is killed mid-write never leaves
a half-written table set behind.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window",
)
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EMBED_DIM = 64


def _days(rng: np.random.Generator, first: dt.date, last: dt.date, n: int) -> pa.Array:
    span = (last - first).days + 1
    base = np.datetime64(first.isoformat(), "us")
    days = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(base + days, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    lengths = rng.integers(10, 101, n)
    kind = rng.random(n)
    for i in range(n):
        if i > 10 and kind[i] < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and kind[i] < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(VOCAB), lengths[i])
            texts.append(" ".join(VOCAB[w] for w in words))
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[x] for x in langs], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """Every table as an Arrow table; the same arguments give identical rows."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_events, n_docs, n_vecs = int(1_000_000 * scale), int(50_000 * scale), int(20_000 * scale)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array(_names("Customer", n_cust)),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array([SEGMENTS[x] for x in rng.integers(0, 5, n_cust)]),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array(_names("Supplier", n_supp)),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    keys = np.arange(n_part)
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{x}" for x in rng.integers(1, 26, n_part)]),
            "p_type": pa.array([PART_TYPES[x] for x in rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
        }
    )
    # a Poisson stream over 30 days: timestamps rise with event_id
    gaps = rng.exponential(30 * 86400e6 / n_events, n_events).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, int(15_000 * scale), n_events), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    out["documents"] = _documents(rng, n_docs)
    vecs = rng.standard_normal((n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }
    )
    return out


def ensure(work: Path, seed: int, scale: float) -> Path:
    """The directory holding every table for ``(seed, scale)``, written
    on first use."""
    final = work / "data" / f"seed{seed}-sf{scale}"
    if all((final / f"{t}.parquet").is_file() for t in TABLES):
        return final
    tmp = work / "data" / f".tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, tmp / f"{name}.parquet")
    shutil.rmtree(final, ignore_errors=True)
    tmp.rename(final)
    return final
