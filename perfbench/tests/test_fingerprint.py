"""The result fingerprint agrees with the oracle comparison's notion of
equality: order-free, NaN/null-aware, floats by value down to the bit."""

import math

import pyarrow as pa
import pytest

from fingerprint import diff, fingerprint


def fp(**cols):
    return fingerprint(pa.table(cols))


def test_row_order_and_chunking_do_not_matter():
    a = pa.table({"k": [1, 2, 3], "v": ["x", "y", None]})
    b = pa.concat_tables([a.slice(2), a.slice(0, 2)])
    assert fingerprint(a) == fingerprint(b)


def test_column_order_and_case_do_not_matter():
    assert fp(a=[1, 2], b=[3.5, 4.5]) == fingerprint(
        pa.table({"B": [3.5, 4.5], "A": [1, 2]}))


def test_duplicate_rows_count():
    assert fp(k=[1, 1, 2]) != fp(k=[1, 2, 2])


def test_row_count_and_columns_reported():
    got, want = fp(k=[1, 2]), fp(k=[1, 2, 3])
    assert diff(got, want).startswith("rowcount")
    assert diff(fp(k=[1]), fp(j=[1])).startswith("columns")
    assert diff(fp(k=[1]), fp(k=[2])) == "values differ"
    assert diff(fp(k=[1]), fp(k=[1])) is None


def test_nulls():
    assert fp(s=["a", None]) == fp(s=[None, "a"])
    assert fp(s=["a", None]) != fp(s=["a", "None"])
    assert fp(x=[1.0, None]) != fp(x=[1.0, 0.0])
    assert fp(k=pa.array([1, None], pa.int64())) != fp(k=[1, 0])


def test_nan_equals_nan_and_null_in_float_columns():
    assert fp(x=[math.nan, 1.5]) == fp(x=[1.5, math.nan])
    assert fp(x=[math.nan]) == fp(x=pa.array([None], pa.float64()))
    assert fp(x=[math.nan]) != fp(x=[0.0])


def test_floats_compare_by_bits():
    assert fp(x=[0.1 + 0.2]) != fp(x=[0.3])
    one_ulp = math.nextafter(0.3, 1.0)
    assert fp(x=[0.3]) != fp(x=[one_ulp])
    assert fp(x=[-0.0]) == fp(x=[0.0])
    assert fp(x=pa.array([0.5], pa.float32())) == fp(x=[0.5])


def test_integers_match_integral_floats_across_engines():
    assert fp(n=pa.array([3], pa.int32())) == fp(n=pa.array([3], pa.int64()))
    assert fp(n=[3]) == fp(n=[3.0])
    assert fp(n=[3]) != fp(n=[3.5])


def test_timestamps_compare_as_utc_instants():
    naive = pa.array([1_700_000_000_000_000], pa.timestamp("us"))
    utc = pa.array([1_700_000_000_000_000], pa.timestamp("us", "UTC"))
    ns = pa.array([1_700_000_000_000_000_000], pa.timestamp("ns"))
    assert fp(t=naive) == fp(t=utc) == fp(t=ns)


def test_nested_and_decimal_values():
    import decimal

    d1 = pa.array([decimal.Decimal("1.50")], pa.decimal128(10, 2))
    d2 = pa.array([decimal.Decimal("1.5000")], pa.decimal128(12, 4))
    assert fp(d=d1) == fp(d=d2)
    assert fp(v=[[1.0, 2.0]]) != fp(v=[[2.0, 1.0]])


def test_duplicate_names_rejected():
    with pytest.raises(ValueError):
        fingerprint(pa.table([pa.array([1]), pa.array([2])], names=["a", "A"]))
