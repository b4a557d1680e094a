"""The seeded generators: determinism, schemas, observable duplicates."""

from __future__ import annotations

import json
from datetime import timedelta
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from perfbench import gen


def _files(d):
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())
            if p.is_file()}


def _write_all(d, seed):
    gen.write_tables(d, seed, 0.001)
    gen.write_corpus(d, seed, 200)
    for b in range(3):
        gen.land(d / "landing", seed, b, 50)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    _write_all(a, 5)
    _write_all(b, 5)
    _write_all(c, 6)
    assert _files(a) == _files(b)
    assert _files(a / "landing") == _files(b / "landing")
    fa, fc = _files(a), _files(c)
    assert fa.keys() == fc.keys()
    # region's five rows are fixed; every other file depends on the seed
    assert [n for n in fa if fa[n] == fc[n]] == ["region.parquet"]
    assert _files(a / "landing") != _files(c / "landing")


def test_table_schemas_match_testdata(tmp_path):
    from __spark_entry__ import SMOKE_SF_DIR

    src = Path(SMOKE_SF_DIR)
    if not src.is_dir():
        pytest.skip(f"test tables absent at {src}")
    gen.write_tables(tmp_path, 1, 0.001)
    gen.write_corpus(tmp_path, 1, 100)
    for name in gen.TABLE_SCHEMAS:
        want = pq.read_schema(src / f"{name}.parquet").remove_metadata()
        got = pq.read_schema(tmp_path / f"{name}.parquet").remove_metadata()
        assert got == want, name


def test_landing_rows_follow_the_silver_contract():
    rows = [json.loads(x) for x in gen.iot_batch(3, 0, 2000).splitlines()]
    assert {tuple(sorted(r)) for r in rows} == {tuple(sorted(
        ("device_id", "location_id", "timestamp", "sensor_type",
         "quality_flag", "unit", "value")))}
    flags = [r["quality_flag"] for r in rows]
    dirty = sum(f.strip().lower() not in ("good", "suspect") for f in flags)
    mixed = sum(f not in ("good", "suspect") for f in flags) - dirty
    assert 0.03 < dirty / len(rows) < 0.10 and mixed > 0
    assert all(r["value"] >= 0 and r["sensor_type"] in gen.SENSORS
               for r in rows)
    # uneven device keys: the most frequent device far above the mean
    counts = {}
    for r in rows:
        counts[r["device_id"]] = counts.get(r["device_id"], 0) + 1
    assert max(counts.values()) > 10 * len(rows) / len(counts)
    # late rows carry timestamps from before their file's period
    start = gen._T0 + timedelta(microseconds=5 * gen._FILE_US)
    late = [r for r in map(json.loads, gen.iot_batch(3, 5, 2000).splitlines())
            if r["timestamp"] < start.strftime("%Y-%m-%d %H:%M:%S")]
    assert 0 < len(late) < 200


def test_backfill_landing_spans_the_fixture_days():
    """The backfill's files cover SPAN_DAYS, so dim_date and the fact's
    year/month grouping are not trivial."""
    rows = [json.loads(x) for b in range(gen.BACKFILL_FILES)
            for x in gen.iot_batch(3, b, gen.FILE_ROWS).splitlines()]
    assert len(rows) == 5000
    days = {r["timestamp"][:10] for r in rows}
    months = {r["timestamp"][:7] for r in rows}
    assert len(days) > 0.9 * gen.SPAN_DAYS and len(months) >= 3
    assert len({r["location_id"] for r in rows}) == gen.N_LOCATIONS


def test_duplicate_share_drives_dedup_work(spark, tmp_path):
    """More planted near-duplicates, more candidate pairs and removals."""
    from iot_simulator_datalake_spark.queries import REGISTRY

    pairs, removed = [], []
    for share in (0.0, 0.05, 0.15):
        d = tmp_path / f"s{share}"
        classes = tuple((n, share, e) for n, _, e in gen.DUP_CLASSES)
        gen.write_corpus(d, 9, 400, classes)
        pairs.append(REGISTRY["dedup_minhash_lsh_capped"]
                     .fn(spark, str(d)).count())
        rep = REGISTRY["fuzzy_dedup_report_capped"].fn(spark, str(d))
        removed.append(sum(r["n_removed"] for r in rep.collect()))
    assert pairs[0] < pairs[1] < pairs[2]
    assert removed[0] < removed[1] < removed[2]
