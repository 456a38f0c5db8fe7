"""Deterministic input tables for the benchmark.

Writes the two tables the benchmark's queries read (``orders`` and
``events``), one parquet file each, with the column names and types of
the catalog's reference test data. Values are drawn from a seeded
generator with the same shapes as that data: uniform keys and
categories, two-decimal money, and exponential event amounts on a
30-day clock.

Same ``(sf, seed)`` gives the same table contents; ``content_key``
hashes those contents, independent of file metadata.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("orders", "events")
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    """Both tables at scale ``sf`` (sf=0.01: 15k orders, 10k events)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 30)
    n_ord = max(int(1_500_000 * sf), 300)
    n_ev = max(int(1_000_000 * sf), 1000)
    n_users = max(int(15_000 * sf), 15)
    t: dict[str, pa.Table] = {}

    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2400, n_ord) * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    gaps = rng.exponential(1.0, n_ev)
    span_us = 30 * _DAY_US - 60_000_000
    ev_us = _EPOCH_2024 + (np.cumsum(gaps) / gaps.sum() * span_us).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_us),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return t


def content_key(tables: dict[str, pa.Table]) -> str:
    """Hash of every table's name, schema and values (IPC stream bytes)."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
