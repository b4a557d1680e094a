"""Streamed oracle comparator (tools/check_oracle.py ORACLE_STREAM_MODE,
VERDICT r10 #1): per-row hashes are computed executor-side and folded
into a fixed-size order-insensitive bucket digest, so neither result
set is ever materialized on the driver.  These tests pin (a) digest
verdict parity with the hash-multiset comparator, (b) batch-boundary
independence (the property the whole design rests on), (c) the edge
cases that broke earlier comparators (null-vs-sentinel, NUL strings,
NaN bits), and (d) the end-to-end Spark-digest == DuckDB-digest path
on a real session under the DEFAULT 1g maxResultSize."""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

TOOLS = str(Path(__file__).resolve().parent.parent / "tools")
sys.path.insert(0, TOOLS)

from check_oracle import (  # noqa: E402
    _digest_add, _digest_new, _digests_differ, _duck_digest,
    _hash_multiset, _spark_digest, _stream_supported)


def _digest(tbl):
    dig = _digest_new()
    assert _digest_add(dig, tbl)
    return dig


def _eq(ta, tb) -> bool:
    return not _digests_differ(_digest(ta), _digest(tb))


def test_batch_boundary_independence():
    """Folding the same rows in 1 batch vs N batches of any split must
    produce the identical digest — per-row hashes carry no cross-row
    or cross-batch state."""
    tbl = pa.table({
        "i": pa.array(list(range(100)), pa.int64()),
        "s": pa.array([f"v{i % 7}" for i in range(100)], pa.string()),
        "f": pa.array([i * 0.25 for i in range(100)], pa.float64())})
    whole = _digest(tbl)
    for split in (1, 3, 17, 99):
        dig = _digest_new()
        for batch in tbl.to_batches(max_chunksize=split):
            assert _digest_add(dig, pa.Table.from_batches([batch]))
        assert not _digests_differ(whole, dig)


def test_row_order_insensitive_and_value_sensitive():
    a = pa.table({"k": [1, 2, 3], "v": ["x", "y", "z"]})
    b = pa.table({"k": [3, 1, 2], "v": ["z", "x", "y"]})
    assert _eq(a, b)
    c = pa.table({"k": [1, 2, 3], "v": ["x", "y", "Z"]})
    assert not _eq(a, c)
    # multiplicity matters (Σ/XOR alone could be fooled by swaps that
    # preserve sums; count + Σh² pin it)
    assert not _eq(pa.table({"k": [1, 1, 2]}),
                   pa.table({"k": [1, 2, 2]}))


def test_null_sentinel_nul_string_and_nan_edges():
    # the same canonicalizer backs hash mode; re-pin its hard cases
    # through the digest path
    assert not _eq(pa.table({"v": pa.array([None], pa.int64())}),
                   pa.table({"v": pa.array([0], pa.int64())}))
    assert not _eq(pa.table({"s": pa.array([None], pa.string())}),
                   pa.table({"s": pa.array([""], pa.string())}))
    assert _eq(pa.table({"s": pa.array(["", "\x00"], pa.string())}),
               pa.table({"s": pa.array(["\x00", ""], pa.string())}))
    import struct
    neg_nan = struct.unpack(
        "<d", struct.pack("<Q", 0xFFF8_0000_0000_0001))[0]
    assert _eq(pa.table({"v": pa.array([np.float64("nan")])}),
               pa.table({"v": pa.array([neg_nan])}))


def test_empty_results_compare_equal():
    a = pa.table({"k": pa.array([], pa.int64())})
    assert _eq(a, a)
    assert not _eq(a, pa.table({"k": pa.array([0], pa.int64())}))


@given(rows=st.lists(
    st.tuples(st.integers(-2**31, 2**31),
              st.floats(allow_nan=False, allow_infinity=False, width=64),
              st.text(max_size=8)),
    min_size=0, max_size=30))
@settings(max_examples=40, deadline=None)
def test_digest_verdicts_match_hash_multiset(rows):
    """Property: on any frame, digest equality must agree with the
    hash-multiset comparator for permutations (equal), one dropped row
    (different), and one duplicated row (different)."""
    def tbl(rs):
        return pa.table({
            "i": pa.array([r[0] for r in rs], pa.int64()),
            "f": pa.array([r[1] for r in rs], pa.float64()),
            "s": pa.array([r[2] for r in rs], pa.string())})

    base = tbl(rows)
    for other, want in ((tbl(list(reversed(rows))), True),
                        (tbl(rows[1:]), not rows),
                        (tbl(rows + rows[:1]), not rows)):
        hash_eq = bool(np.array_equal(_hash_multiset(base),
                                      _hash_multiset(other)))
        assert hash_eq is want
        assert _eq(base, other) is want


def test_stream_supported_gating():
    # spark dtypes × duck types; arrays/binary must request fallback
    ok = [("k", "bigint"), ("s", "string"), ("d", "decimal(10,2)")]
    assert _stream_supported(ok, ["BIGINT", "VARCHAR", "DECIMAL(10,2)"])
    assert not _stream_supported(ok + [("v", "array<float>")],
                                 ["BIGINT"])
    assert not _stream_supported(ok, ["BIGINT", "BLOB"])


def test_product_session_keeps_default_max_result_size(spark):
    """ADVICE r10: the 8g maxResultSize override must be scoped to the
    non-stream gate entry points, not the shared session builder — a
    product session built without the env override runs at Spark's 1g
    default, keeping the collect-bounded audit mechanically enforced."""
    import os
    if os.environ.get("SPARK_DRIVER_MAX_RESULT"):
        import pytest
        pytest.skip("gate env override active in this process")
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.maxResultSize", "unset") == "unset"


def test_spark_duck_end_to_end(spark, tmp_path):
    """The real path: Spark mapInArrow digest over a parquet scan ==
    DuckDB fetch_arrow_reader digest over the same file in a different
    row order, across int/string/double/timestamp/date columns; one
    mutated cell flips the verdict.  Runs under the session's default
    1g maxResultSize — the whole point of stream mode."""
    import datetime

    import duckdb

    rows = [(i, f"name-{i % 5}", i * 1.5,
             datetime.datetime(2024, 1, 1 + i % 28, i % 24),
             datetime.date(2024, 1 + i % 12, 1)) for i in range(500)]
    sdf = spark.createDataFrame(
        rows, "k bigint, s string, f double, t timestamp, d date")
    pq = str(tmp_path / "t.parquet")
    sdf.coalesce(1).write.mode("overwrite").parquet(pq)

    read = spark.read.parquet(pq).repartition(7)   # multi-partition
    sdig = _spark_digest(read)
    assert int(sdig["cnt"].sum()) == 500

    con = duckdb.connect()
    ddig = _duck_digest(
        con.sql(f"SELECT * FROM '{pq}/*.parquet' ORDER BY k DESC"),
        chunk=64)                                  # many small chunks
    assert not _digests_differ(sdig, ddig)

    bad = _duck_digest(con.sql(
        f"SELECT k, CASE WHEN k = 250 THEN 'X' ELSE s END AS s, f, t, d "
        f"FROM '{pq}/*.parquet'"), chunk=64)
    assert _digests_differ(sdig, bad)
