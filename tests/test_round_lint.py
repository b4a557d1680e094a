"""Self-tests for tools/round_lint.py — the static determinism lint
that freezes the fractional-ROUND class (VERDICT r7 #5).  The rule
must FIRE on a synthetic violation (both the Spark-source form and
the oracle-SQL form) and the repo at HEAD must be clean, so any new
fractional round landing outside the allowlist breaks the suite, not
just the round-close ritual."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

from round_lint import ALLOW, scan_module_source, scan_oracle_sql  # noqa: E402


def test_source_rule_fires_on_fractional_round():
    src = (
        "from pyspark.sql import functions as F\n"
        "def my_new_query(spark, sf_dir):\n"
        "    df = spark.range(3)\n"
        "    return df.select(F.round(F.col('id') / 7, 2).alias('r'))\n")
    hits = scan_module_source("synthetic.py", src)
    assert hits == [("synthetic.py", 4, "my_new_query", 2)]
    assert "my_new_query" not in ALLOW


def test_source_rule_fires_on_builtin_round():
    src = ("def helper(x):\n"
           "    return round(x / 3, 5)\n")
    assert scan_module_source("mod.py", src) == [("mod.py", 2, "helper", 5)]


def test_source_rule_fires_on_keyword_lit_and_nonconstant_forms():
    src = (
        "from pyspark.sql import functions as F\n"
        "def f(df, x, somevar):\n"
        "    a = F.round(df.c, scale=3)\n"
        "    b = round(x, ndigits=2)\n"
        "    c = F.round(df.c, F.lit(4))\n"
        "    d = F.round(df.c, somevar)\n")
    hits = scan_module_source("m.py", src)
    assert hits == [("m.py", 3, "f", 3), ("m.py", 4, "f", 2),
                    ("m.py", 5, "f", 4),
                    ("m.py", 6, "f", "non-constant")]


def test_source_rule_quiet_on_integer_round():
    src = (
        "from pyspark.sql import functions as F\n"
        "def q(df):\n"
        "    a = F.round(F.col('x') * 100)          # scale-to-int\n"
        "    b = F.round(F.col('x') * 1000, 0)      # explicit 0\n"
        "    c = round(2.5)                          # builtin, no scale\n"
        "    return a, b, c\n")
    assert scan_module_source("mod.py", src) == []


def test_oracle_rule_fires_and_handles_nesting():
    sql = ("SELECT ROUND(SUM(ROUND(x * 100)) / COUNT(*), 3) AS bad, "
           "ROUND(y) AS ok, ROUND(z, 0) AS ok2 FROM t")
    assert scan_oracle_sql("q", sql) == [("q", 3)]


def test_repo_is_clean_at_head():
    out = subprocess.run(
        [sys.executable, str(REPO / "tools" / "round_lint.py")],
        capture_output=True, text=True, cwd=REPO)
    assert out.returncode == 0, out.stdout + out.stderr
    assert "0 violations" in out.stdout


def test_status_block_drift_detection(tmp_path, monkeypatch):
    """r10 (VERDICT r9 #2, third close-commit-last strike): the README
    status block is machine-generated between markers; round_lint runs
    status_block.verify_readme(), which re-renders the block from its
    embedded inputs + LIVE artifacts and must flag any drift — so a
    code commit landing after the close commit (changing registry /
    ledger / plan counts) turns the lint red at HEAD."""
    import json
    import status_block as sb

    bench = {"value": 9.9, "unit": "sec", "sf": 0.1,
             "queries": {"q1": 1.0}, "baseline_subset_sec": 6.5,
             "calibration_sec": {"start": 0.45, "end": 0.46}}
    (tmp_path / "B.json").write_text(json.dumps(bench))
    monkeypatch.setattr(sb, "ROOT", tmp_path)
    monkeypatch.setattr(sb, "README", tmp_path / "README.md")
    live = {"registry": 7, "swept": 6, "excluded": 1, "unclassified": 0}
    monkeypatch.setattr(sb, "counts", lambda: dict(live))
    monkeypatch.setattr(sb, "plan_denominator", lambda: 5)

    block = sb.render({"round": "X", "pytest": "99 passed",
                       "bench": "B.json", "plans": "5/5"})
    (tmp_path / "README.md").write_text(f"# repo\n\n{block}\n\nprose\n")
    assert sb.verify_readme() == []          # in sync → clean

    # post-close code commit: registry grows, ledger sweeps it
    live["registry"], live["swept"] = 8, 7
    probs = sb.verify_readme()
    assert probs and "drifted" in probs[0]
    live["registry"], live["swept"] = 7, 6
    assert sb.verify_readme() == []

    # plan partition changes → drift too
    monkeypatch.setattr(sb, "plan_denominator", lambda: 6)
    assert sb.verify_readme()

    # hand edit inside the marked region → drift
    monkeypatch.setattr(sb, "plan_denominator", lambda: 5)
    txt = (tmp_path / "README.md").read_text()
    (tmp_path / "README.md").write_text(
        txt.replace("**7/7 hash-match**", "**7/7 hash-match!!**"))
    assert sb.verify_readme()

    # no markers at all → flagged
    (tmp_path / "README.md").write_text("# repo\nno block here\n")
    probs = sb.verify_readme()
    assert probs and "no generated status block" in probs[0]


def test_status_block_write_replaces_marked_region(tmp_path, monkeypatch):
    import json
    import status_block as sb

    bench = {"value": 9.9, "unit": "sec", "sf": 0.1,
             "queries": {"q1": 1.0}, "baseline_subset_sec": 6.5,
             "calibration_sec": {"start": 0.45, "end": 0.46}}
    (tmp_path / "B.json").write_text(json.dumps(bench))
    monkeypatch.setattr(sb, "ROOT", tmp_path)
    monkeypatch.setattr(sb, "README", tmp_path / "README.md")
    monkeypatch.setattr(sb, "counts", lambda: {
        "registry": 3, "swept": 3, "excluded": 0, "unclassified": 0})
    monkeypatch.setattr(sb, "plan_denominator", lambda: 2)
    # legacy adoption: hand-managed section replaced up to next ##
    (tmp_path / "README.md").write_text(
        "# repo\n\n## Status (round-9 close)\n\nold prose\n\n"
        "## Next section\nkeep me\n")
    sb.write_readme(sb.render({"round": "1", "pytest": "1 passed",
                               "bench": "B.json", "plans": "2/2"}))
    txt = (tmp_path / "README.md").read_text()
    assert sb.BEGIN in txt and sb.END in txt
    assert "old prose" not in txt and "keep me" in txt
    assert sb.verify_readme() == []
    # idempotent: re-write replaces between markers, nothing dupes
    sb.write_readme(sb.render({"round": "2", "pytest": "2 passed",
                               "bench": "B.json", "plans": "2/2"}))
    txt2 = (tmp_path / "README.md").read_text()
    assert txt2.count(sb.END) == 1 and "round-2" in txt2
    assert "keep me" in txt2


def test_status_block_verify_robust_to_missing_artifacts(
        tmp_path, monkeypatch):
    """A missing README or a block referencing a deleted bench
    artifact must report drift, not crash round_lint."""
    import status_block as sb

    monkeypatch.setattr(sb, "ROOT", tmp_path)
    monkeypatch.setattr(sb, "README", tmp_path / "README.md")
    probs = sb.verify_readme()
    assert probs and "cannot read README" in probs[0]
    (tmp_path / "README.md").write_text(
        sb.BEGIN + '{"round": "9", "pytest": "x", '
        '"bench": "GONE.json"} -->\nbody\n' + sb.END)
    probs = sb.verify_readme()
    assert probs and "cannot re-render" in probs[0]


def test_status_block_refuses_fabricated_or_stale_plan_claims(
        tmp_path, monkeypatch):
    """r10 review finding: the block's plan_lint line must be an
    OBSERVED result — render refuses a dirty claim (num != den) and a
    stale one (den != live registry partition), so the README can
    never assert a plan gate that wasn't measured clean."""
    import json

    import pytest
    import status_block as sb

    bench = {"value": 1.0, "unit": "sec", "sf": 0.1,
             "queries": {"q": 1.0}, "baseline_subset_sec": 1.0,
             "calibration_sec": {"start": 0.4, "end": 0.4}}
    (tmp_path / "B.json").write_text(json.dumps(bench))
    monkeypatch.setattr(sb, "ROOT", tmp_path)
    monkeypatch.setattr(sb, "counts", lambda: {
        "registry": 1, "swept": 1, "excluded": 0, "unclassified": 0})
    monkeypatch.setattr(sb, "plan_denominator", lambda: 5)
    base = {"round": "1", "pytest": "ok", "bench": "B.json"}
    with pytest.raises(SystemExit, match="plans must be"):
        sb.render(base)                               # missing
    with pytest.raises(SystemExit, match="not clean"):
        sb.render({**base, "plans": "4/5"})           # dirty
    with pytest.raises(SystemExit, match="stale"):
        sb.render({**base, "plans": "6/6"})           # wrong denom
    assert "5/5 batch plans clean" in sb.render({**base,
                                                 "plans": "5/5"})
