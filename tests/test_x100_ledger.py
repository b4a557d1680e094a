"""Unit tests for tools/x100_ledger.py — the ×100 coverage partition
gate.  No Spark: these pin the output-parsing, detail-scoping, merge,
and partition-check logic the sweep's evidence integrity rests on."""

from __future__ import annotations

import json
import sys
from pathlib import Path

TOOLS = str(Path(__file__).resolve().parent.parent / "tools")
sys.path.insert(0, TOOLS)

import x100_ledger as xl  # noqa: E402

SAMPLE = """
  alpha_query                         OK      500 rows [ 12.3s]
  beta_query                          FAIL    200 rows [  4.0s]
      rowcount spark=200 duck=199
      values differ; spark-only=[(1,)] duck-only=[(2,)]
  gamma_query                         ERR ValueError: boom
  delta_query                         rows-only:     10 rows [  1.0s]

3/4 queries match
"""


def test_parse_results_statuses_and_times():
    got = xl._parse_results(SAMPLE)
    assert got["alpha_query"] == ("ok", 12.3)
    assert got["beta_query"] == ("fail", 4.0)
    assert got["gamma_query"][0] == "err"
    assert got["delta_query"][0] == "rows-only"


def test_detail_scoped_to_own_result_block():
    d = xl._detail_for(SAMPLE, "beta_query")
    assert "rowcount spark=200" in d and "values differ" in d
    # gamma's detail must NOT pick up beta's indented problem lines
    assert "rowcount" not in xl._detail_for(SAMPLE, "gamma_query")
    assert xl._detail_for(SAMPLE, "not_there") == ""


def test_check_partition_logic(monkeypatch, capsys):
    monkeypatch.setattr(xl, "registry_names",
                        lambda: ["a", "b", "c", "d"])
    led = {"swept": {"a": {"status": "ok", "wall_s": 1},
                     "b": {"status": "timeout", "wall_s": 600}},
           "excluded": {"c": {"class": "uncapped-twin-kill",
                              "reason": "measured kill"},
                        "zz": {"class": "bogus-class", "reason": ""}}}
    rc = xl.check(led)
    out = capsys.readouterr().out
    assert rc == 1
    assert "UNCLASSIFIED query: d" in out          # d is neither
    assert "UNKNOWN query: zz" in out              # stale entry
    assert "non-ok status 'timeout'" in out        # b needs triage
    assert "unknown class" in out                  # zz's class invalid
    # a green, complete partition passes
    led = {"swept": {n: {"status": "ok", "wall_s": 1}
                     for n in ["a", "b", "d"]},
           "excluded": {"c": {"class": "equals-gate", "reason": "x"}}}
    assert xl.check(led) == 0


def test_merge_folds_shards(tmp_path, monkeypatch):
    monkeypatch.setattr(xl, "LEDGER", tmp_path / "L.json")
    s1 = tmp_path / "s1.json"
    s1.write_text(json.dumps(
        {"swept": {"b": {"status": "ok"}}, "excluded": {}}))
    s2 = tmp_path / "s2.json"
    s2.write_text(json.dumps(
        {"swept": {"a": {"status": "fail"}}, "excluded": {}}))
    xl.merge([str(s1), str(s2)])
    saved = json.loads((tmp_path / "L.json").read_text())
    assert saved["swept"]["b"]["status"] == "ok"
    assert saved["swept"]["a"]["status"] == "fail"  # shard wins


def test_sweep_records_wholesale_batch_crash(tmp_path, monkeypatch):
    """A batch subprocess that dies with rc!=0 and ZERO result lines
    (JVM OOM-kill at query 1) must attribute an 'err' to the first
    pending query — before this rule the sweep recorded nothing and
    moved on, silently shrinking coverage."""
    import subprocess as sp
    import types

    monkeypatch.setattr(xl, "registry_names", lambda: ["a", "b"])
    x100 = tmp_path / "x100"
    (x100 / "lineitem.parquet").mkdir(parents=True)
    monkeypatch.setattr(xl, "X100_DIR", str(x100))
    monkeypatch.setattr(xl, "LEDGER", tmp_path / "L.json")
    monkeypatch.setattr(
        sp, "run",
        lambda *a, **k: types.SimpleNamespace(
            returncode=137, stdout="", stderr="Killed\n"))
    led = {"swept": {}, "excluded": {}}
    assert xl.sweep(led, ["a", "b"], timeout=5, chunk=2) == 0
    assert led["swept"]["a"]["status"] == "err"
    assert "rc=137" in led["swept"]["a"]["detail"]
    assert "b" not in led["swept"]          # unstarted stays open


def test_status_block_counts_partition_registry():
    """tools/status_block.py (r9): the README status numbers must come
    from the ledger + registry, and those must partition exactly."""
    import sys
    sys.path.insert(0, TOOLS)
    import status_block
    c = status_block.counts()
    assert c["registry"] == c["swept"] + c["excluded"] \
        + c["unclassified"]
    assert c["unclassified"] == 0, (
        "ledger must classify every registry query at close")


def test_sweep_save_merges_over_concurrent_disk_updates(
        tmp_path, monkeypatch):
    """r9: a sweep's save must re-merge over the ON-DISK ledger and
    write only its own changes — a long sweep's stale in-memory copy
    previously clobbered entries a concurrent sweep recorded after
    this one loaded (observed: a background re-sweep erased a fresh
    foreground entry)."""
    import subprocess as sp
    import types

    monkeypatch.setattr(xl, "registry_names",
                        lambda: ["mine", "other", "stale"])
    x100 = tmp_path / "x100"
    (x100 / "lineitem.parquet").mkdir(parents=True)
    monkeypatch.setattr(xl, "X100_DIR", str(x100))
    ledger = tmp_path / "L.json"
    monkeypatch.setattr(xl, "LEDGER", ledger)
    # ledger state at THIS sweep's load time: 'stale' already swept
    led = {"swept": {"stale": {"status": "ok", "wall_s": 1.0,
                               "dir": str(x100)}}, "excluded": {}}
    ledger.write_text(json.dumps(led))
    loaded = json.loads(ledger.read_text())

    def fake_run(*a, **k):
        # a CONCURRENT process lands 'other' on disk mid-sweep
        disk = json.loads(ledger.read_text())
        disk["swept"]["other"] = {"status": "ok", "wall_s": 2.0,
                                  "dir": str(x100)}
        ledger.write_text(json.dumps(disk))
        return types.SimpleNamespace(
            returncode=0,
            stdout="  mine                    OK      5 rows [  3.0s]\n",
            stderr="")

    monkeypatch.setattr(sp, "run", fake_run)
    assert xl.sweep(loaded, ["mine"], timeout=5, chunk=1) == 0
    disk = json.loads(ledger.read_text())
    assert disk["swept"]["mine"]["status"] == "ok"     # own result
    assert disk["swept"]["other"]["wall_s"] == 2.0     # survives
    assert disk["swept"]["stale"]["wall_s"] == 1.0     # untouched


def test_hash_fail_auto_falls_back_to_direct_mode_samples(
        tmp_path, monkeypatch):
    """r10 (VERDICT r9 #4/#6): a hash-mode FAIL carries no sample rows
    by design; the sweep must automatically re-run that one query in
    direct (Counter) mode and record the diff samples, so a future
    failure is classifiable without a manual rerun."""
    import subprocess as sp
    import types

    monkeypatch.setattr(xl, "registry_names", lambda: ["q"])
    x100 = tmp_path / "x100"
    (x100 / "lineitem.parquet").mkdir(parents=True)
    monkeypatch.setattr(xl, "X100_DIR", str(x100))
    monkeypatch.setattr(xl, "LEDGER", tmp_path / "L.json")
    calls = []

    def fake_run(cmd, **k):
        hash_mode = k.get("env", {}).get("ORACLE_HASH_MODE") == "1"
        calls.append(hash_mode)
        if hash_mode:
            out = ("  q                    FAIL    9 rows [  1.0s]\n"
                   "      hash multiset differs\n")
        else:
            out = ("  q                    FAIL    9 rows [  2.0s]\n"
                   "      values differ; spark-only=[(1, 'a')] "
                   "duck-only=[(2, 'b')]\n")
        return types.SimpleNamespace(returncode=1, stdout=out,
                                     stderr="")

    monkeypatch.setattr(sp, "run", fake_run)
    led = {"swept": {}, "excluded": {}}
    assert xl.sweep(led, ["q"], timeout=5, chunk=1) == 0
    e = led["swept"]["q"]
    assert e["status"] == "fail"
    assert calls == [True, False]          # hash batch, then direct solo
    assert "spark-only=[(1, 'a')]" in e["direct_detail"]


def test_ledger_lock_serializes_saves(tmp_path, monkeypatch):
    """The save path holds an exclusive flock across load-merge-write
    so two processes saving in one window can't drop an entry."""
    import fcntl

    monkeypatch.setattr(xl, "LEDGER", tmp_path / "L.json")
    with xl._ledger_lock():
        fh = open(str(tmp_path / "L.json") + ".lock", "w")
        try:
            fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
            held = False
        except BlockingIOError:
            held = True
        fh.close()
    assert held, "lock must be exclusive while a save is in flight"



def test_merge_writes_only_shard_keys_over_fresh_disk(
        tmp_path, monkeypatch):
    """r10 review finding: --merge must fold ONLY shard keys into the
    fresh on-disk ledger (merge no longer even receives an in-memory
    copy — replaying a stale one reverted entries a concurrent sweep
    saved after our load)."""
    import json

    monkeypatch.setattr(xl, "LEDGER", tmp_path / "L.json")
    # on-disk state at merge time: a CONCURRENT sweep already saved a
    # fresh verdict for 'q' after this process loaded its stale copy
    (tmp_path / "L.json").write_text(json.dumps(
        {"swept": {"q": {"status": "ok", "wall_s": 9.0}},
         "excluded": {}}))
    s1 = tmp_path / "s1.json"
    s1.write_text(json.dumps(
        {"swept": {"r": {"status": "ok", "wall_s": 2.0}},
         "excluded": {}}))
    xl.merge([str(s1)])
    disk = json.loads((tmp_path / "L.json").read_text())
    assert disk["swept"]["q"]["status"] == "ok"    # fresh survives
    assert disk["swept"]["r"]["wall_s"] == 2.0     # shard folded
