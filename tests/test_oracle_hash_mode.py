"""Vectorized hash-mode comparator parity (tools/check_oracle.py,
VERDICT r8 #7): the sorted row-hash multiset must agree with the
Counter compare's verdicts — equal multisets pass regardless of row
order; any value / null / type-boundary difference fails; schemas
outside the canonical set fall back instead of guessing."""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pyarrow as pa

TOOLS = str(Path(__file__).resolve().parent.parent / "tools")
sys.path.insert(0, TOOLS)

from check_oracle import _hash_multiset  # noqa: E402


def _eq(ta, tb) -> bool:
    ha, hb = _hash_multiset(ta), _hash_multiset(tb)
    assert ha is not None and hb is not None
    return bool(np.array_equal(ha, hb))


def test_row_order_and_column_order_insensitive():
    a = pa.table({"k": [1, 2, 3], "v": ["x", "y", "z"]})
    b = pa.table({"v": ["z", "x", "y"], "k": [3, 1, 2]})
    assert _eq(a, b)


def test_single_value_difference_detected():
    a = pa.table({"k": [1, 2], "v": [1.5, 2.5]})
    b = pa.table({"k": [1, 2], "v": [1.5, 2.5000000001]})
    assert not _eq(a, b)


def test_duplicate_multiplicity_matters():
    a = pa.table({"k": [1, 1, 2]})
    b = pa.table({"k": [1, 2, 2]})
    assert not _eq(a, b)


def test_null_distinct_from_fill_sentinels():
    # null int vs 0, null string vs "" — the null-mask column keeps
    # the sentinel from colliding with real data
    assert not _eq(pa.table({"v": pa.array([None], pa.int64())}),
                   pa.table({"v": pa.array([0], pa.int64())}))
    assert not _eq(pa.table({"s": pa.array([None], pa.string())}),
                   pa.table({"s": pa.array([""], pa.string())}))
    assert _eq(pa.table({"v": pa.array([None, 7], pa.int64())}),
               pa.table({"v": pa.array([7, None], pa.int64())}))


def test_float_bit_semantics_match_repr_compare():
    # -0.0 vs 0.0 differ in repr AND in bits — same verdict as the
    # Counter path; equal doubles hash equal
    assert not _eq(pa.table({"v": [0.0]}), pa.table({"v": [-0.0]}))
    assert _eq(pa.table({"v": [1e300]}), pa.table({"v": [1e300]}))


def test_tz_utc_timestamp_equals_naive():
    # Spark exports timestamp[us, tz=UTC]; DuckDB exports naive —
    # the canonicalizer must treat the same wall instant as equal
    ts = 1_700_000_000_000_000
    a = pa.table({"t": pa.array([ts], pa.timestamp("us", tz="UTC"))})
    b = pa.table({"t": pa.array([ts], pa.timestamp("us"))})
    assert _eq(a, b)


def test_float32_vs_float64_same_value_equal():
    a = pa.table({"v": pa.array([1.5], pa.float32())})
    b = pa.table({"v": pa.array([1.5], pa.float64())})
    assert _eq(a, b)


def test_decimal_equals_its_double():
    import decimal
    a = pa.table({"v": pa.array([decimal.Decimal("12.25")],
                                pa.decimal128(10, 2))})
    b = pa.table({"v": pa.array([12.25], pa.float64())})
    assert _eq(a, b)


def test_date_canonicalizes_to_epoch_days():
    import datetime
    d = datetime.date(2024, 3, 1)
    a = pa.table({"d": pa.array([d], pa.date32())})
    b = pa.table({"d": pa.array([d], pa.date32())})
    assert _eq(a, b)
    c = pa.table({"d": pa.array([datetime.date(2024, 3, 2)],
                                pa.date32())})
    assert not _eq(a, c)


def test_unsupported_types_request_fallback():
    lst = pa.table({"v": pa.array([[1, 2]], pa.list_(pa.int64()))})
    assert _hash_multiset(lst) is None
    bin_ = pa.table({"v": pa.array([b"\x01"], pa.binary())})
    assert _hash_multiset(bin_) is None


def test_cross_process_stability():
    """Hash arrays must be reproducible across interpreters (the sweep
    compares hashes computed in ONE process, but a seed-dependent hash
    would still make failures unreproducible run-to-run)."""
    import subprocess

    prog = (
        f"import sys; sys.path.insert(0,{TOOLS!r})\n"
        "import pyarrow as pa\n"
        "from check_oracle import _hash_multiset\n"
        "t = pa.table({'k':[1,2],'s':['a','b']})\n"
        "print(_hash_multiset(t).tolist())\n")
    outs = [subprocess.run([sys.executable, "-c", prog],
                           capture_output=True, text=True,
                           check=True).stdout.strip()
            for _ in range(2)]
    assert outs[0] == outs[1]


def test_nul_string_permutation_invariant():
    """Regression for the r9 categorize=True bug: '' and '\\x00'
    collide in pandas' C-string category table, making the multiset
    hash depend on insertion order.  categorize=False keeps the two
    values distinct and the hash permutation-invariant."""
    a = pa.table({"s": pa.array(["", "\x00"], pa.string())})
    b = pa.table({"s": pa.array(["\x00", ""], pa.string())})
    assert _eq(a, b)
    # and the two values stay DISTINGUISHABLE
    assert not _eq(pa.table({"s": pa.array(["", ""], pa.string())}),
                   pa.table({"s": pa.array(["", "\x00"], pa.string())}))


def test_nan_payload_bits_canonicalized():
    """Counter mode treats every NaN as repr 'nan'; hash mode must
    agree — a negative/payload-bearing NaN equals the standard quiet
    NaN, while NaN vs a real number still differs."""
    import struct

    qnan = np.float64("nan")
    neg_nan = struct.unpack("<d", struct.pack("<Q", 0xFFF8_0000_0000_0001))[0]
    assert np.isnan(neg_nan)
    assert _eq(pa.table({"v": pa.array([qnan], pa.float64())}),
               pa.table({"v": pa.array([neg_nan], pa.float64())}))
    assert not _eq(pa.table({"v": pa.array([qnan], pa.float64())}),
                   pa.table({"v": pa.array([1.0], pa.float64())}))
