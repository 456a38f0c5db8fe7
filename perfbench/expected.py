"""Expected results, from each query's DuckDB oracle twin.

For a query with an oracle, the expectation is the fingerprint of the
twin's result on the same input tables. For a rows-only query
(``workloads.ROWS_ONLY``) it is the row count and key-set fingerprint of
its key query, plus the fixed column set.

Each entry is keyed by the input tables' content key and a hash of the
SQL, and kept in a cache file in the build directory, so it is
recomputed exactly when the data or the oracle changes.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import numpy as np
import pyarrow as pa

from datagen import TABLES
from fingerprint import diff, fingerprint
from workloads import ROWS_ONLY, RowsOnly


def entry_key(data_key: str, sql: str) -> str:
    return hashlib.sha256(f"{data_key}\n{sql}".encode()).hexdigest()


def _load(path: str) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _connect(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={os.cpu_count() or 1}")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def build(queries: list[str], oracles: dict[str, str], data_dir: str,
          data_key: str, cache_path: str, log) -> dict:
    """Expected entry per query; computes only the ones whose key is not
    in the cache at ``cache_path``."""
    cached = _load(cache_path)
    out, con = {}, None
    for q in queries:
        spec = ROWS_ONLY.get(q)
        sql = spec.key_sql if spec else oracles.get(q)
        if sql is None:
            raise ValueError(f"{q}: no oracle twin and no rows-only check")
        key = entry_key(data_key, sql)
        hit = cached.get(q)
        if hit is None or hit["key"] != key:
            con = con or _connect(data_dir)
            t0 = time.perf_counter()
            fp = fingerprint(con.sql(sql).arrow())
            hit = {"key": key, "fingerprint": fp}
            cached[q] = hit
            log(f"expected {q}: {fp['rows']} rows from the oracle in {time.perf_counter() - t0:.1f} s")
        out[q] = hit["fingerprint"]
    if con is not None:
        con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cached, f, indent=1, sort_keys=True)
        os.replace(tmp, cache_path)
    return out


def check(query: str, result: pa.Table, want: dict) -> tuple[str, str | None]:
    """(status, reason): status is ``ok``, ``vacuous`` (both sides empty)
    or ``failed``; reason explains a failure."""
    spec: RowsOnly | None = ROWS_ONLY.get(query)
    if spec is None:
        reason = diff(fingerprint(result), want)
    else:
        reason = _check_rows_only(spec, result, want)
    if reason is not None:
        return "failed", reason
    return ("vacuous" if result.num_rows == 0 else "ok"), None


def _check_rows_only(spec: RowsOnly, result: pa.Table, want: dict) -> str | None:
    cols = sorted(c.lower() for c in result.column_names)
    if cols != sorted(spec.columns):
        return f"columns got={cols} want={sorted(spec.columns)}"
    if result.num_rows != want["rows"]:
        return f"rowcount got={result.num_rows} want={want['rows']}"
    by_lower = {c.lower(): c for c in result.column_names}
    keys = result.select([by_lower[spec.key]]).rename_columns([spec.key])
    if fingerprint(keys)["hash"] != want["hash"]:
        return f"key set of {spec.key} differs"
    for c in spec.finite:
        x = np.asarray(result.column(by_lower[c]).to_numpy(zero_copy_only=False), dtype=float)
        if not np.isfinite(x).all():
            return f"column {c}: {int((~np.isfinite(x)).sum())} non-finite values"
    return None
