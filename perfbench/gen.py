"""Seeded input generators for the benchmark.

Every generator is a pure function of its arguments: the same seed writes
byte-identical files, a different seed different ones.  Table schemas
match the read-only TPC-H-ish test tables the query registry is written
against (``region`` … ``events``, ``documents``, ``embeddings``), so the
registry's builders and DuckDB oracles run on them unchanged.
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH = datetime(1970, 1, 1)


def _us(d: datetime) -> int:
    return (d - _EPOCH) // timedelta(microseconds=1)


def _write(path: Path, cols: dict, schema: pa.Schema) -> None:
    tbl = pa.table(cols, schema=schema)
    pq.write_table(tbl, path, compression="snappy")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform 2-dp amounts in [lo, hi]."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts(rng, start: datetime, days: int, n: int,
        whole_days: bool) -> np.ndarray:
    if whole_days:
        off = rng.integers(0, days, n).astype(np.int64) * 86_400_000_000
    else:
        off = rng.integers(0, days * 86_400_000_000, n)
    return (_us(start) + off).astype("datetime64[us]")


# -- TPC-H-ish tables ------------------------------------------------------

S = pa.string()
I32, I64, F64 = pa.int32(), pa.int64(), pa.float64()
TS = pa.timestamp("us")

TABLE_SCHEMAS = {
    "region": pa.schema([("r_regionkey", I32), ("r_name", S)]),
    "nation": pa.schema([("n_nationkey", I32), ("n_name", S),
                         ("n_regionkey", I32)]),
    "customer": pa.schema([("c_custkey", I64), ("c_name", S),
                           ("c_nationkey", I32), ("c_acctbal", F64),
                           ("c_mktsegment", S)]),
    "supplier": pa.schema([("s_suppkey", I64), ("s_name", S),
                           ("s_nationkey", I32), ("s_acctbal", F64)]),
    "part": pa.schema([("p_partkey", I64), ("p_name", S), ("p_brand", S),
                       ("p_type", S), ("p_size", I32),
                       ("p_retailprice", F64)]),
    "orders": pa.schema([("o_orderkey", I64), ("o_custkey", I64),
                         ("o_orderstatus", S), ("o_totalprice", F64),
                         ("o_orderdate", TS), ("o_orderpriority", S)]),
    "lineitem": pa.schema([("l_orderkey", I64), ("l_partkey", I64),
                           ("l_suppkey", I64), ("l_linenumber", I32),
                           ("l_quantity", F64), ("l_extendedprice", F64),
                           ("l_discount", F64), ("l_tax", F64),
                           ("l_returnflag", S), ("l_linestatus", S),
                           ("l_shipdate", TS)]),
    "events": pa.schema([("event_id", I64), ("ts", TS), ("user_id", I64),
                         ("event_type", S), ("value", F64), ("props", S)]),
    "documents": pa.schema([("doc_id", I64), ("text", S), ("lang", S),
                            ("source", S), ("n_chars", I64)]),
    "embeddings": pa.schema([("vec_id", I64),
                             ("embedding", pa.list_(pa.float32())),
                             ("label", I32)]),
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["blue", "red", "hot", "new", "small", "big", "old", "dark"]
_NOUN = ["anvil", "bolt", "ring", "rod", "plate", "widget", "gear", "pipe"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def write_tables(out: Path, seed: int, sf: float) -> None:
    """The eight TPC-H-ish tables at scale ``sf`` (sf 1 = 6 M lineitems).

    Columns are independent uniform draws over the test tables' value
    ranges; ``events.value`` is exponential with mean 50."""
    rng = np.random.default_rng([seed, 1])
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_user = max(10, int(15_000 * sf))
    sch = TABLE_SCHEMAS

    def pick(vals, n):
        return np.asarray(vals, dtype=object)[rng.integers(0, len(vals), n)]

    _write(out / "region.parquet", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS},
        sch["region"])
    _write(out / "nation.parquet", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": rng.integers(0, 5, 25).astype(np.int32)},
        sch["nation"])
    _write(out / "customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(_SEGMENTS, n_cust)}, sch["customer"])
    _write(out / "supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
        sch["supplier"])
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    _write(out / "part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pick(names, n_part),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pick(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": rng.integers(9000, 10000, n_part) / 10.0},
        sch["part"])
    _write(out / "orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng, datetime(1995, 1, 1), 2404, n_ord, True),
        "o_orderpriority": pick(_PRIOS, n_ord)}, sch["orders"])
    _write(out / "lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _ts(rng, datetime(1995, 1, 2), 2499, n_line, True)},
        sch["lineitem"])
    _write(out / "events.parquet", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.sort(_ts(rng, datetime(2024, 1, 1), 30, n_evt, False)),
        "user_id": rng.integers(0, n_user, n_evt),
        "event_type": pick(_EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]},
        sch["events"])


# -- curation corpus -------------------------------------------------------

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "en", "zh", "es", "fr", "de"]
#: near-duplicate classes: (name, share of docs, share of tokens edited);
#: an edit of 0.0 is an exact copy.  The rest of the corpus is unique.
DUP_CLASSES = (("exact", 0.10, 0.0), ("light", 0.10, 0.05),
               ("heavy", 0.10, 0.30))
EMB_DIM = 64


def _edit(rng, toks: list, share: float) -> list:
    """Substitute or delete ``share`` of the tokens (at least one)."""
    toks = list(toks)
    for _ in range(max(1, round(share * len(toks)))):
        i = int(rng.integers(0, len(toks)))
        if rng.random() < 0.5 and len(toks) > 10:
            del toks[i]
        else:
            toks[i] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return toks


def write_corpus(out: Path, seed: int, n_docs: int,
                 dup_classes=DUP_CLASSES) -> None:
    """``documents`` + paired ``embeddings`` (``vec_id == doc_id``).

    Each duplicate class copies a random earlier unique document, then
    edits the given share of its tokens; its embedding is the source's
    plus noise scaled by the edit share."""
    rng = np.random.default_rng([seed, 2])
    out.mkdir(parents=True, exist_ok=True)
    n_dup = {name: int(share * n_docs) for name, share, _ in dup_classes}
    n_unique = n_docs - sum(n_dup.values())
    texts, vecs = [], []
    for _ in range(n_unique):
        n = int(rng.integers(10, 101))
        texts.append([VOCAB[i] for i in rng.integers(0, len(VOCAB), n)])
        v = rng.standard_normal(EMB_DIM)
        vecs.append(v / np.linalg.norm(v))
    for name, _, edit in dup_classes:
        for _ in range(n_dup[name]):
            src = int(rng.integers(0, n_unique))
            toks = texts[src] if edit == 0 else _edit(rng, texts[src], edit)
            texts.append(toks)
            v = vecs[src] + (edit + 0.01) * rng.standard_normal(EMB_DIM)
            vecs.append(v / np.linalg.norm(v))
    order = rng.permutation(n_docs)         # interleave the classes
    text = [" ".join(texts[i]) for i in order]
    emb = [vecs[i].astype(np.float32) for i in order]
    _write(out / "documents.parquet", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": np.asarray(LANGS, dtype=object)[
            rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)},
        TABLE_SCHEMAS["documents"])
    _write(out / "embeddings.parquet", {
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": emb,
        "label": rng.integers(0, 10, n_docs).astype(np.int32)},
        TABLE_SCHEMAS["embeddings"])


# -- IoT landing -----------------------------------------------------------
#
# The landing's shape follows the repo's fixture spec for raw IoT JSON
# (FIXTURES.md section 1): 100 devices, 10 locations, timestamps over 90
# days, about 5,000 events, about 10% of flags non-canonical, the units
# per sensor type, values >= 0 with zeros and fractions.

SENSORS = {"temperature": "\u00b0C", "humidity": "%", "pressure": "hPa",
           "motion": "bool"}
#: ~10% of flags are dirty (dropped by silver) or mixed-case (kept after
#: lower/trim normalisation)
FLAGS = (["good"] * 62 + ["suspect"] * 28 + ["GOOD", " Good ", "Suspect",
          "SUSPECT ", "bad", "bad", "error", "ERROR", "unknown", ""])
N_DEVICES, N_LOCATIONS, SPAN_DAYS = 100, 10, 90
#: the landing the backfill reads: files x rows = 5,000 events over
#: SPAN_DAYS; a refresh lands one more file of the same size
BACKFILL_FILES, FILE_ROWS = 25, 200
_T0 = datetime(2026, 1, 1)
_FILE_US = SPAN_DAYS * 86_400_000_000 // BACKFILL_FILES
_LATE_US = 2 * 86_400_000_000


def iot_batch(seed: int, batch: int, rows: int) -> str:
    """One landing file's JSON lines.  Device keys are Zipf-skewed, each
    device sits at a fixed location, and each file covers the next
    SPAN_DAYS / BACKFILL_FILES days, with ~5% of its rows arriving up to
    two days late."""
    rng = np.random.default_rng([seed, 3, batch])
    dev = (rng.zipf(1.3, rows) - 1) % N_DEVICES
    sensors = list(SENSORS)
    st = rng.integers(0, len(sensors), rows)
    flag = rng.integers(0, len(FLAGS), rows)
    base = _us(_T0) + batch * _FILE_US
    off = rng.integers(0, _FILE_US, rows)
    late = rng.random(rows) < 0.05
    off = off - late * rng.integers(0, _LATE_US, rows)
    value = rng.integers(0, 100_000, rows) / 100.0
    lines = []
    for i in range(rows):
        ts = _EPOCH + timedelta(microseconds=int(base + off[i]))
        s = sensors[st[i]]
        lines.append(json.dumps({
            "device_id": f"dev-{dev[i] + 1:04d}",
            "location_id": f"loc-{(dev[i] * 7) % N_LOCATIONS + 1:02d}",
            "timestamp": ts.strftime("%Y-%m-%d %H:%M:%S.%f"),
            "sensor_type": s,
            "quality_flag": FLAGS[flag[i]],
            "unit": SENSORS[s],
            # a float always prints with a decimal point, so schema
            # inference reads a double even for a whole-number sample
            "value": float(value[i])}))
    return "\n".join(lines) + "\n"


def land(landing: Path, seed: int, batch: int, rows: int) -> int:
    """Write one batch file into ``landing``; returns its byte size."""
    landing.mkdir(parents=True, exist_ok=True)
    data = iot_batch(seed, batch, rows).encode()
    tmp = landing / f".batch-{batch:05d}.json.tmp"
    tmp.write_bytes(data)
    tmp.rename(landing / f"batch-{batch:05d}.json")  # atomic for the stream
    return len(data)
