"""bench.py's one timing loop and the modes built on it, run in-process
on the shared session at sf0.001."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402
from __spark_entry__ import SMOKE_SF_DIR as SF  # noqa: E402


def test_query_mode_walls_and_steals(spark):
    out = bench.time_queries(spark, ["tpch_q6_forecast_revenue"], SF)
    r = out["tpch_q6_forecast_revenue"]
    assert len(r["walls"]) == len(r["steals"]) == bench.PASSES == 3
    assert all(w > 0 for w in r["walls"])
    assert all(isinstance(s, int) and s >= 0 for s in r["steals"])


def test_profile_attributes_jobs_and_stages(spark):
    names = ["tpch_q1_pricing_summary", "hourly_rollup"]
    bench.time_queries(spark, names, SF)
    prof = bench.job_profile(spark, names)
    for name in names:
        jobs = prof[name]
        assert jobs, name
        assert {j["pass"] for j in jobs} == {0, 1, 2}
        stages = [s for j in jobs for s in j["stages"]]
        assert stages and all(s["tasks"] > 0 for s in stages)
        assert any(s["shuffle_write_bytes"] > 0 for s in stages), name
        assert all(s["shuffle_read_bytes"] >= 0 for s in stages)


def test_plans_mode_writes_one_plan_per_query(spark, tmp_path):
    names = ["tpch_q6_forecast_revenue", "customer_scorecard"]
    paths = bench.write_plans(spark, names, SF, tmp_path / "plans")
    assert sorted(p.name for p in (tmp_path / "plans").iterdir()) == \
        sorted(f"{n}.txt" for n in names)
    for name in names:
        text = Path(paths[name]).read_text()
        assert "== Physical Plan ==" in text, name


def _run(queries: dict[str, float]) -> str:
    return "# progress\n" + json.dumps(
        {"value": round(sum(queries.values()), 3), "queries": queries})


def test_scaling_ledger_skips_zero_time_queries():
    ledger = bench.scaling_ledger({
        1: _run({"a": 2.0, "b": 0.0, "c": 0.3}),
        4: _run({"a": 0.5, "b": 0.2, "c": 0.0})})
    assert ledger["cpus"] == [1, 4]
    assert ledger["ratio_low_over_high"] == {"a": 4.0}
    assert sorted(ledger["zero_time_queries"]) == ["b", "c"]
    assert ledger["total_sec"] == {1: 2.3, 4: 0.7}


def test_scaling_ledger_raises_on_missing_json_line():
    with pytest.raises(bench.BenchOutputError, match="SPARK_GRAFT_CPUS=2"):
        bench.scaling_ledger({1: _run({"a": 1.0}),
                              2: "# pass0 a: 1 rows in 1.00s\n"})


@pytest.mark.parametrize("argv", [["--sf", SF], ["--passes", "5", "q"],
                                  ["--sfs", SF, SF], ["no_such_query"]])
def test_cli_rejects_removed_flags_and_unknown_queries(argv, capsys):
    assert bench.cli(argv) == 2
    assert "usage: bench.py" in capsys.readouterr().err
