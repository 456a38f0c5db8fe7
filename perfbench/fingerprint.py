"""Order-insensitive fingerprint of a query result.

A fingerprint is ``{"rows", "columns", "hash"}``: the row count, the
lower-cased column names in sorted order, and a hash of the multiset of
rows. Two results get the same fingerprint exactly when the catalog's
oracle comparison (``tools/check_oracle.py::compare``) would call them
equal:

* row order does not matter;
* numbers compare by value, so an integer column on one engine matches
  an integral float column on the other; non-integral floats compare
  bit for bit, except that ``-0.0`` equals ``0.0``;
* NaN equals NaN, and in a numeric column NaN equals null;
* timestamps compare as UTC instants (a zone-less timestamp is read as
  UTC); dates, strings, booleans and decimals compare by value.

Each cell is encoded as a (tag, payload) pair of unsigned 64-bit
integers; rows are hashed column by column and the sorted row hashes
are digested, which makes the result independent of row order and of
the table's chunking.
"""

from __future__ import annotations

import decimal
import hashlib
import json

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

_NULL, _INT, _FLOAT, _BOOL, _TIME, _DATE, _TEXT = range(7)
_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _text_payload(values: list) -> np.ndarray:
    out = np.zeros(len(values), dtype=np.uint64)
    for i, v in enumerate(values):
        if v is not None:
            d = hashlib.blake2b(v.encode() if isinstance(v, str) else v, digest_size=8)
            out[i] = np.frombuffer(d.digest(), dtype=np.uint64)[0]
    return out


def _canonical(v):
    """JSON-able canonical form of a nested or decimal value."""
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, float):
        return 0.0 if v == 0.0 else (None if v != v else v.hex())
    if isinstance(v, dict):
        return {k: _canonical(x) for k, x in sorted(v.items())}
    if isinstance(v, (list, tuple)):
        return [_canonical(x) for x in v]
    if isinstance(v, bytes):
        return v.hex()
    return v if v is None or isinstance(v, (bool, int, str)) else str(v)


def _float_cells(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    x = pc.cast(arr, pa.float64()).to_numpy(zero_copy_only=False)
    null = np.isnan(x)
    if arr.null_count:
        null |= np.asarray(arr.is_null().to_numpy(zero_copy_only=False))
    with np.errstate(invalid="ignore"):
        integral = ~null & (np.floor(x) == x) & (np.abs(x) < 2.0**63)
    tags = np.where(null, _NULL, np.where(integral, _INT, _FLOAT)).astype(np.uint64)
    bits = np.where(x == 0.0, 0.0, x).view(np.uint64)  # -0.0 -> 0.0
    ints = np.where(integral, x, 0.0).astype(np.int64).view(np.uint64)
    payload = np.where(null, 0, np.where(integral, ints, bits)).astype(np.uint64)
    return tags, payload


def _cells(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(tag, payload) arrays for one column."""
    t = arr.type
    valid = ~np.asarray(arr.is_null().to_numpy(zero_copy_only=False), dtype=bool)
    if pa.types.is_floating(t):
        return _float_cells(arr)
    if pa.types.is_integer(t) or pa.types.is_boolean(t):
        tag = _BOOL if pa.types.is_boolean(t) else _INT
        x = pc.cast(arr, pa.int64()).fill_null(0).to_numpy(zero_copy_only=False)
        payload = x.astype(np.int64).view(np.uint64)
    elif pa.types.is_timestamp(t):
        tag = _TIME
        us = pc.cast(pc.cast(arr, pa.timestamp("us", t.tz)), pa.int64())
        payload = us.fill_null(0).to_numpy(zero_copy_only=False).view(np.uint64)
    elif pa.types.is_date(t):
        tag = _DATE
        days = pc.cast(pc.cast(arr, pa.date32()), pa.int32())
        payload = days.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64).view(np.uint64)
    elif pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_binary(t):
        tag = _TEXT
        payload = _text_payload(arr.to_pylist())
    else:  # decimal, list, struct, map: canonical JSON text
        tag = _TEXT
        payload = _text_payload(
            [None if v is None else json.dumps(_canonical(v)) for v in arr.to_pylist()]
        )
    tags = np.where(valid, tag, _NULL).astype(np.uint64)
    payload = np.where(valid, payload, 0).astype(np.uint64)
    return tags, payload


def _mix(h: np.ndarray, v: np.ndarray) -> np.ndarray:
    """splitmix64-style combine, vectorized (wrapping uint64 arithmetic)."""
    with np.errstate(over="ignore"):
        z = (h ^ v) * np.uint64(0x9E3779B97F4A7C15) & _MASK
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9) & _MASK
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB) & _MASK
        return z ^ (z >> np.uint64(31))


def fingerprint(table: pa.Table) -> dict:
    """Fingerprint of an Arrow table; see the module docstring."""
    names = [c.lower() for c in table.column_names]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate column names (case-insensitive): {table.column_names}")
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = np.full(table.num_rows, 0x243F6A8885A308D3, dtype=np.uint64)
    for i in order:
        tags, payload = _cells(table.column(i).combine_chunks())
        rows = _mix(_mix(rows, tags), payload)
    digest = hashlib.sha256(np.sort(rows).tobytes()).hexdigest()
    return {"rows": table.num_rows, "columns": sorted(names), "hash": digest}


def diff(got: dict, want: dict) -> str | None:
    """None if the fingerprints agree, else a one-line reason."""
    if got["rows"] != want["rows"]:
        return f"rowcount got={got['rows']} want={want['rows']}"
    if got["columns"] != want["columns"]:
        return f"columns got={got['columns']} want={want['columns']}"
    if got["hash"] != want["hash"]:
        return "values differ"
    return None
