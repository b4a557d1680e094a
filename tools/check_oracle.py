"""Local replica of the driver's correctness gate.

Runs every declared query on Spark AND its DuckDB oracle at a given
scale factor, then compares row count, sorted column names, and an
order-insensitive multiset of normalized row values.  Use while
iterating so CORRECTNESS_r{N}.json holds no surprises.

Usage:  python tools/check_oracle.py [sf_dir] [query ...]

Hash mode (VERDICT r8 #7): with ``ORACLE_HASH_MODE=1`` both result
sets are fetched as ARROW tables and value-compared by a vectorized
order-insensitive row-hash multiset (sorted uint64 hash arrays)
instead of the per-row Python Counter — the ×100 sweep's wall was
dominated by the Python comparator on big outputs (attribution_linear
631 s, semdedup_cap_recall_eval 1352 s), not by the engines.  Columns
whose types the vectorized canonicalizer doesn't cover (lists,
structs, maps, binary) fall back per-query to the Counter compare
over the same Arrow values.  The DEFAULT mode is byte-identical to
the driver's gate; only tools/x100_ledger.py opts into hash mode.

Stream mode (VERDICT r10 #1): with ``ORACLE_STREAM_MODE=1`` neither
result set is ever materialized on the driver.  The Spark side
computes the canonical per-row uint64 hashes ON EXECUTORS
(``mapInArrow`` over the same ``_canon_frame`` canonicalization) and
folds them into a fixed-size order-insensitive DIGEST — 4096 buckets
keyed by the hash's top 12 bits, each carrying (count, Σh, Σh²,
XOR h) with uint64 wraparound — so only ~128 KiB per partition ever
reaches the driver.  The DuckDB side streams the oracle through
``fetch_arrow_reader`` in 1M-row chunks into the identical digest.
Two equal multisets always produce equal digests (every statistic is
commutative); a forged collision would need equal count, sum, sum of
squares, AND xor in all 4096 buckets simultaneously — far stronger
than the gate needs.  Per-row hashes are batch-boundary-independent
(``hash_pandas_object`` is elementwise with a fixed key), which
tests/test_oracle_stream_mode.py pins, along with digest/Counter
verdict parity.  Schemas outside the canonical vectorized set fall
back to hash mode's whole-result compare (none of the wide-row
queries this mode exists for carry such types).  Stream mode is what
lets ``silver_projection_cast``-class results (150 M × 7 string
cols at ×1000) be value-verified under the DEFAULT 1g
``spark.driver.maxResultSize`` — the 8g override is now scoped to
the non-stream gate modes only (ADVICE r10).
"""

from __future__ import annotations

import os
import sys
import time
from collections import Counter
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iot_simulator_datalake_spark.queries import REGISTRY, TABLES  # noqa: E402
from iot_simulator_datalake_spark.session import get_spark  # noqa: E402


def norm_cell(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "asDict"):       # Spark Row (struct cell) — must
        return tuple(sorted(       # normalize like DuckDB's dict form
            (k, norm_cell(x)) for k, x in v.asDict().items()))
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, dict):        # MapType / STRUCT rows must be
        return tuple(sorted(       # hashable for the multiset compare
            (k, norm_cell(x)) for k, x in v.items()))
    if isinstance(v, bytearray):   # Spark BinaryType
        return bytes(v)
    return v


def row_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(norm_cell(r[i]) for i in order) for r in rows)


HASH_MODE = os.environ.get("ORACLE_HASH_MODE", "") == "1"
STREAM_MODE = os.environ.get("ORACLE_STREAM_MODE", "") == "1"

# Comparator core lives in the package so the stream digest's
# mapInArrow closure is importable on Spark's Python workers (see
# iot_simulator_datalake_spark/oraclehash.py docstring); re-exported
# here so tests and callers keep one import surface.
from iot_simulator_datalake_spark.oraclehash import (  # noqa: E402
    N_BUCKETS, _canon_frame, _digest_add, _digest_new, _digests_differ,
    _duck_digest, _hash_multiset, _spark_digest, _stream_supported,
    duck_to_spark as _duck_to_spark)



def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or list(REGISTRY)

    # Non-stream modes fetch whole results to the driver, so THEY get
    # the 8g maxResultSize headroom — scoped here, at the gate entry
    # point, instead of loosening every product session (ADVICE r10).
    # Stream mode runs under Spark's default 1g by design.
    if not STREAM_MODE:
        os.environ.setdefault("SPARK_DRIVER_MAX_RESULT", "8g")
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(src):       # replica/lake layouts: flat dirs
            src = f"{src}/**/*.parquet"   # AND key=val partition subdirs
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    failures = []
    for name in names:
        t0 = time.monotonic()
        # per-query containment: one broken (or unknown) query must not
        # abort the sweep and hide the verdicts of everything after it
        try:
            _check_one(spark, con, sf_dir, name, REGISTRY[name], t0,
                       failures)
        except Exception as e:  # noqa: BLE001 — report-and-continue tool
            print(f"  {name:35s} ERR {type(e).__name__}: {str(e)[:140]}")
            failures.append(name)

    print(f"\n{len(names) - len(failures)}/{len(names)} queries match"
          + (f"; FAILURES: {failures}" if failures else ""))
    return 1 if failures else 0


def _check_one(spark, con, sf_dir, name, qd, t0, failures):
    sdf = qd.fn(spark, sf_dir)
    scols = sdf.columns
    if qd.oracle is None:
        # rows-only: nothing to value-compare, so stream mode needs no
        # fetch at all — count() is the cheapest faithful action here
        n_spark = (sdf.count() if STREAM_MODE
                   else sdf.toArrow().num_rows if HASH_MODE
                   else len(sdf.collect()))
        print(f"  {name:35s} rows-only: {n_spark:7d} rows "
              f"[{time.monotonic() - t0:5.1f}s]")
        return
    drel = con.sql(qd.oracle)     # ONE execution serves columns,
    dcols = list(drel.columns)    # types, and rows (the x10 sweep
    dtypes = dict(zip(dcols, [str(t) for t in drel.types]))
    streaming = STREAM_MODE and _stream_supported(sdf.dtypes, drel.types)
    if streaming:                 # runs full-scan oracles — don't 2x)
        sdig = _spark_digest(sdf)
        n_spark = int(sdig["cnt"].sum())
    elif HASH_MODE or STREAM_MODE:   # stream fallback = hash compare
        stbl = sdf.toArrow()
        n_spark = stbl.num_rows
    else:
        srows = [tuple(r) for r in sdf.collect()]
        n_spark = len(srows)
    spark_sec = time.monotonic() - t0
    if streaming:
        ddig = _duck_digest(drel)
        n_duck = int(ddig["cnt"].sum())
    elif HASH_MODE or STREAM_MODE:
        dtbl = drel.arrow()
        n_duck = dtbl.num_rows
    else:
        drows = drel.fetchall()
        n_duck = len(drows)

    problems = []
    if n_spark != n_duck:
        problems.append(f"rowcount spark={n_spark} duck={n_duck}")
    if sorted(scols) != sorted(dcols):
        problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
    # column TYPES must align too (a strict driver-side schema
    # compare would flag int32-vs-int64 drift)
    for col, styp in sdf.dtypes:
        dt = dtypes.get(col, "MISSING")
        if _duck_to_spark(dt) != styp:
            problems.append(f"dtype {col}: spark={styp} duck={dt}")
    if not problems:
        if streaming:
            problems += _digests_differ(sdig, ddig)
        elif HASH_MODE or STREAM_MODE:
            problems += _values_differ_hash(stbl, dtbl)
        else:
            problems += _values_differ(scols, srows, dcols, drows)
    status = "OK " if not problems else "FAIL"
    print(f"  {name:35s} {status} {n_spark:7d} rows [{spark_sec:5.1f}s]")
    for p in problems:
        print(f"      {p}")
    if problems:
        failures.append(name)


def _values_differ(scols, srows, dcols, drows) -> list[str]:
    sm, dm = row_multiset(scols, srows), row_multiset(dcols, drows)
    if sm != dm:
        only_s = list((sm - dm).items())[:3]
        only_d = list((dm - sm).items())[:3]
        return [f"values differ; spark-only={only_s} "
                f"duck-only={only_d}"]
    return []


def _values_differ_hash(stbl, dtbl) -> list[str]:
    """Hash-mode value compare (module docstring): vectorized sorted
    row-hash arrays; schemas outside the canonical set fall back to
    the Counter compare over the same Arrow values."""
    import numpy as np

    hs, hd = _hash_multiset(stbl), _hash_multiset(dtbl)
    if hs is None or hd is None:    # unsupported column type
        return _values_differ(
            list(stbl.column_names),
            [tuple(d.values()) for d in stbl.to_pylist()],
            list(dtbl.column_names),
            [tuple(d.values()) for d in dtbl.to_pylist()])
    if not np.array_equal(hs, hd):
        n_diff = int((hs != hd).sum()) if len(hs) == len(hd) else -1
        return [f"values differ (hash mode; {n_diff} of {len(hs)} "
                f"sorted row-hash slots disagree — re-run without "
                f"ORACLE_HASH_MODE for sample rows)"]
    return []


if __name__ == "__main__":
    raise SystemExit(main())
