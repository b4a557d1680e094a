"""Machine-readable ×100 oracle-coverage ledger (VERDICT r7 #4).

SCALE.md's "curated ×100 coverage" stays honest only if the complement
is enumerated.  This tool maintains ``X100_LEDGER.json`` (repo root):
every registry query is either

- ``swept``    — hash-matched its DuckDB oracle on the ×100 replica,
                 with the measured wall time recorded, or
- ``excluded`` — carries an exclusion CLASS from the fixed vocabulary
                 below plus a written, evidence-bearing reason.

``--check`` (the round-close mode) fails unless the ledger is a
complete partition of the CURRENT registry: a new query is neither
swept nor excluded until someone runs the sweep or writes the
justification — exactly the discipline prose couldn't enforce.

``--sweep [names…]`` builds/uses the ×100 replica (``tools/replica.py
100`` layout at $X100_DIR, default /tmp/x100) and runs every named —
default: every unclassified — query through the same compare as
tools/check_oracle.py, in SUBPROCESS batches (``-u`` so per-query
result lines survive a kill) with a timeout, so a wedged query records
a measured ``timeout`` instead of hanging the sweep.  Non-ok statuses
(fail / err / timeout / rows-only) are recorded with their evidence
and KEEP ``--check`` FAILING until triaged into a fix or an exclusion
entry — a recorded kill is a measurement, not a pass.

Exclusion classes (each must cite its measurement or argument):

- corpus-quadratic-output   the RESULT SET grows ~quadratically with
                            the corpus (pair dumps): comparing it is
                            the infeasible part, by design
- uncapped-twin-kill        uncapped variant whose ×100 kill IS the
                            documented measurement; the capped
                            production twin is swept instead
- comparator-infeasible     the DuckDB oracle (not the query) explodes
                            at ×100 (unrolled iterative SQL, >70 GB
                            spills); Spark side is probed separately
- equals-gate               the query's oracle re-verifies equality
                            against its own batch twin, which IS swept;
                            re-running the equality at ×100 re-proves
                            the twin, not the query
- regime-bounded-oracle     the oracle asserts sketch EXACTNESS, true
                            only at gate cardinalities (coupon
                            regime); fails BY DESIGN beyond it — the
                            ±3σ envelope twin is the swept scale gate
- env-blocked               cannot run on this image (documented
                            import gate)

Usage:
  python tools/x100_ledger.py --check
  python tools/x100_ledger.py --sweep [name …]   [--timeout S]

Sweeps run the comparator in hash mode (ORACLE_HASH_MODE=1).  Export
``ORACLE_STREAM_MODE=1`` before a sweep to use the r11 executor-side
digest comparator instead (check_oracle gives stream mode precedence;
it passes through the subprocess env) — right for big-output batches,
since neither engine's result is then materialized on the driver.
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

LEDGER = pathlib.Path(__file__).resolve().parent.parent / \
    "X100_LEDGER.json"
X100_DIR = os.environ.get("X100_DIR", "/tmp/x100")
CLASSES = {"corpus-quadratic-output", "uncapped-twin-kill",
           "comparator-infeasible", "equals-gate",
           "regime-bounded-oracle", "env-blocked"}


def load_ledger() -> dict:
    if LEDGER.exists():
        return json.loads(LEDGER.read_text())
    return {"swept": {}, "excluded": {}}


class _ledger_lock:
    """fcntl.flock on a sidecar file held across load-merge-write:
    the r9 re-merge narrowed the concurrent-sweep race but two
    direct-mode sweeps saving in one window could still drop an
    entry (unlocked read-modify-write)."""

    def __enter__(self):
        import fcntl
        self._fh = open(str(LEDGER) + ".lock", "w")
        fcntl.flock(self._fh, fcntl.LOCK_EX)
        return self

    def __exit__(self, *exc):
        import fcntl
        fcntl.flock(self._fh, fcntl.LOCK_UN)
        self._fh.close()
        return False


def save_ledger(led: dict) -> None:
    led["swept"] = dict(sorted(led["swept"].items()))
    led["excluded"] = dict(sorted(led["excluded"].items()))
    LEDGER.write_text(json.dumps(led, indent=1) + "\n")


def registry_names() -> list[str]:
    from iot_simulator_datalake_spark.queries import REGISTRY
    return sorted(REGISTRY)


def check(led: dict) -> int:
    names = set(registry_names())
    swept = set(led["swept"])
    excl = set(led["excluded"])
    bad = 0
    for n in sorted(swept & excl):
        print(f"BOTH swept and excluded: {n}")
        bad += 1
    for n in sorted(swept - names | excl - names):
        print(f"ledger entry for UNKNOWN query: {n}")
        bad += 1
    for n in sorted(names - swept - excl):
        print(f"UNCLASSIFIED query: {n} — sweep it or write an "
              f"exclusion entry")
        bad += 1
    for n, e in led["excluded"].items():
        if e.get("class") not in CLASSES:
            print(f"excluded {n}: unknown class {e.get('class')!r}")
            bad += 1
        if not e.get("reason"):
            print(f"excluded {n}: missing reason")
            bad += 1
    for n, e in led["swept"].items():
        if e.get("status") != "ok":
            print(f"swept {n}: non-ok status {e.get('status')!r} — "
                  f"triage: fix or exclude")
            bad += 1
    n_ok = sum(1 for e in led["swept"].values()
               if e.get("status") == "ok")
    print(f"{n_ok} swept-green / {len(excl)} excluded / "
          f"{len(names)} registry queries; {bad} problems")
    return 1 if bad else 0


_LINE = None  # compiled lazily: check_oracle per-query result lines


def _parse_results(out: str) -> dict[str, tuple[str, float]]:
    """Parse check_oracle stdout → {name: (status, spark_sec)}."""
    import re
    global _LINE
    if _LINE is None:
        _LINE = re.compile(
            r"^\s{2}(\S+)\s+(OK|FAIL|ERR|rows-only)\b.*?"
            r"(?:\[\s*([\d.]+)s\])?\s*$", re.M)
    res = {}
    for m in _LINE.finditer(out):
        res[m.group(1)] = (m.group(2).lower(),
                           float(m.group(3) or 0.0))
    return res


def _detail_for(out: str, name: str) -> str:
    """The problem lines belonging to ONE query's result: everything
    between its own result line and the next query's — never another
    batch member's diffs."""
    lines = out.splitlines()
    start = next((i for i, ln in enumerate(lines)
                  if ln.startswith(f"  {name} ")), None)
    if start is None:
        return ""
    block = [lines[start].strip()]
    for ln in lines[start + 1:]:
        if ln.startswith("      "):
            block.append(ln.strip())
        else:
            break
    return " | ".join(block[:6])[-400:]


def sweep(led: dict, names: list[str], timeout: int,
          chunk: int = 8, slice_spec: str | None = None,
          out: pathlib.Path | None = None) -> int:
    """``slice_spec`` 'i/m' takes every m-th target starting at i —
    lets m concurrent sweep processes split the work; each writes its
    own shard (``out``) which ``--merge`` folds into the ledger, so
    concurrent processes never race on one file."""
    if not pathlib.Path(X100_DIR, "lineitem.parquet").exists():
        print(f"replica missing at {X100_DIR}: run "
              f"`python tools/replica.py 100 /root/testdata/sf0.1 "
              f"{X100_DIR}` first", file=sys.stderr)
        return 2
    reg = set(registry_names())
    targets = [n for n in (names or sorted(
        reg - set(led["swept"]) - set(led["excluded"]))) if n in reg]
    if slice_spec:
        i, m = (int(x) for x in slice_spec.split("/"))
        targets = targets[i::m]
    if out is not None:
        led = {"swept": {}, "excluded": {}}  # fresh shard, merged later

        def save():
            out.write_text(json.dumps(led, indent=1) + "\n")
    else:
        # Re-merge over the ON-DISK ledger at every save, writing only
        # the entries THIS process changed: dumping the whole
        # in-memory copy clobbered entries a CONCURRENT sweep saved
        # after this one loaded (observed r9: a long background
        # re-sweep erased a foreground sweep's fresh entry).  Shard
        # mode (--out) remains the tool for planned heavy concurrency;
        # this makes the direct mode lose nothing either way.
        initial = {n: json.dumps(e, sort_keys=True)
                   for n, e in led["swept"].items()}

        def save():
            with _ledger_lock():
                disk = load_ledger()
                disk["swept"].update(
                    {n: e for n, e in led["swept"].items()
                     if json.dumps(e, sort_keys=True) != initial.get(n)})
                save_ledger(disk)
    batches = [targets[i:i + chunk] for i in range(0, len(targets), chunk)]
    done = 0
    # one direct-mode fallback budget for the WHOLE sweep (ADVICE r10):
    # a sweep with several hash-mode failures must stay responsive —
    # each fallback solo-run gets what remains of this pool, and once
    # it drains the remaining failures keep their saved FAIL entry
    # with a how-to-reproduce note instead of another hours-long rerun
    fallback_budget = max(4 * timeout, 3600)
    fallback_spent = 0.0
    for batch in batches:
        t0 = time.time()
        timed_out = False
        try:
            # -u: unbuffered child stdout, so every completed query's
            # result line survives a mid-batch SIGKILL — without it the
            # pipe's block buffer dies with the child and the timeout
            # would be attributed to a query that already PASSED
            r = subprocess.run(
                [sys.executable, "-u", "tools/check_oracle.py",
                 X100_DIR, *batch],
                capture_output=True, text=True,
                timeout=timeout * len(batch), cwd=str(LEDGER.parent),
                # hash mode (check_oracle docstring, VERDICT r8 #7):
                # the sweep's wall was dominated by the per-row Python
                # comparator on big ×100 outputs; the vectorized
                # row-hash multiset gives the same verdicts (parity
                # pinned in tests/test_oracle_hash_mode.py) at a
                # fraction of the comparator cost
                env={**os.environ, "ORACLE_HASH_MODE": "1"})
            txt = r.stdout + r.stderr
        except subprocess.TimeoutExpired as e:
            txt = ((e.stdout or b"").decode(errors="replace")
                   + (e.stderr or b"").decode(errors="replace"))
            timed_out = True
        wall = round(time.time() - t0, 1)
        got = _parse_results(txt)
        reported = [n for n in batch if n in got]
        fallbacks = []
        for n in reported:
            status, sec = got[n]
            # 'rows-only' stays distinct: nothing was hash-verified,
            # so it must NOT count as swept-green (check() flags it)
            led["swept"][n] = {"status": status, "wall_s": sec,
                               "dir": X100_DIR}
            if status != "ok":
                led["swept"][n]["detail"] = _detail_for(txt, n)
            if status == "fail":
                fallbacks.append(n)
        if fallbacks:
            # Save the FAIL entries first, then enrich: the direct-mode
            # rerun is the documented slow path, and a multi-failure
            # batch must not hold every verdict hostage to it (ADVICE
            # r10).  One full fallback budget is shared across the
            # whole sweep — the first failures get diff samples, the
            # rest keep their recorded FAIL and a skip note.
            save()
            for n in fallbacks:
                left = fallback_budget - fallback_spent
                if left <= 60:
                    led["swept"][n]["direct_detail"] = (
                        "direct rerun skipped: sweep fallback budget "
                        f"({fallback_budget}s) exhausted — rerun solo "
                        "without ORACLE_HASH_MODE for samples")
                    continue
                t_fb = time.time()
                # hash-mode mismatch: capture sample diff rows via an
                # automatic solo direct-mode rerun (footgun removal —
                # hash failures are otherwise opaque)
                led["swept"][n]["direct_detail"] = \
                    _direct_fallback(n, timeout, int(left))
                fallback_spent += time.time() - t_fb
        pending = [n for n in batch if n not in got]
        if timed_out:
            # the first query with no result line is the one in flight
            # when the batch timed out — attribute it; the unstarted
            # remainder stays unclassified for the next run
            if pending:
                led["swept"][pending[0]] = {
                    "status": "timeout", "wall_s": wall,
                    "dir": X100_DIR,
                    "detail": f"batch of {len(batch)} timed out; "
                              f"{len(reported)} completed before it"}
        elif pending and r.returncode != 0:
            # batch subprocess died (OOM-kill, JVM startup crash, …)
            # before its remaining queries printed result lines.  The
            # query in flight is the first pending one — record the
            # crash there so --check keeps failing until triaged; the
            # unstarted remainder stays unclassified.  Without this, a
            # wholesale batch crash recorded NOTHING and the sweep
            # moved on silently (observed: a 6-query batch whose JVM
            # died at query 1 under co-tenant memory pressure).
            led["swept"][pending[0]] = {
                "status": "err", "wall_s": wall, "dir": X100_DIR,
                "detail": f"batch subprocess rc={r.returncode} with "
                          f"{len(reported)}/{len(batch)} result lines; "
                          f"tail: {txt.strip()[-300:]}"}
        save()
        done += len(batch)
        line = ", ".join(f"{n}:{got[n][0]}" if n in got else f"{n}:?"
                         for n in batch)
        print(f"[{done}/{len(targets)}] {line} [{wall}s]", flush=True)
    return 0


def _direct_fallback(name: str, timeout: int,
                     budget: int | None = None) -> str:
    """A hash-mode FAIL prints no sample rows by design (the hashes
    are opaque).  Re-run that ONE query solo in direct (Counter) mode
    to capture diff samples for the ledger entry, so a future failure
    can be classified without a manual re-run (VERDICT r9 #4/#6).

    The direct comparator is the documented 10-40× slower path (hash
    mode exists BECAUSE it took 631-1352 s on big ×100 outputs), so
    the budget defaults to 4× the per-query hash budget, floored at an
    hour — but the CALLER passes what remains of the sweep-wide pool,
    so several failures can't stall the sweep for hours each (ADVICE
    r10; the FAIL entry is already saved before this runs)."""
    budget = budget if budget is not None else max(4 * timeout, 3600)
    try:
        r = subprocess.run(
            [sys.executable, "-u", "tools/check_oracle.py",
             X100_DIR, name],
            capture_output=True, text=True, timeout=budget,
            cwd=str(LEDGER.parent),
            env={k: v for k, v in os.environ.items()
                 if k != "ORACLE_HASH_MODE"})
        return _detail_for(r.stdout + r.stderr, name) or \
            f"direct rerun rc={r.returncode}, no result line"
    except subprocess.TimeoutExpired:
        return f"direct rerun timed out after {budget}s"


def merge(shards: list[str]) -> int:
    """Fold sweep shards into the ledger (shard entries win).  Writes
    ONLY the shard keys over the fresh on-disk state under the lock —
    replaying a stale in-memory copy would revert entries a concurrent
    sweep saved after our load (r10 review finding; the sweep's save()
    has the same changed-keys-only discipline)."""
    fold = {"swept": {}, "excluded": {}}
    for s in shards:
        sh = json.loads(pathlib.Path(s).read_text())
        fold["swept"].update(sh.get("swept", {}))
        fold["excluded"].update(sh.get("excluded", {}))
    with _ledger_lock():
        disk = load_ledger()
        disk["swept"].update(fold["swept"])
        disk["excluded"].update(fold["excluded"])
        save_ledger(disk)
    print(f"merged {len(fold['swept'])} swept + "
          f"{len(fold['excluded'])} excluded entries from "
          f"{len(shards)} shards")
    return 0


def main(argv: list[str]) -> int:
    led = load_ledger()
    if argv[:1] == ["--check"] or not argv:
        return check(led)
    if argv[:1] == ["--merge"]:
        return merge(argv[1:])
    if argv[:1] == ["--sweep"]:
        argv = argv[1:]
        timeout, chunk, slice_spec, out = 900, 8, None, None
        if "--timeout" in argv:
            i = argv.index("--timeout")
            timeout = int(argv[i + 1])
            argv = argv[:i] + argv[i + 2:]
        if "--chunk" in argv:
            i = argv.index("--chunk")
            chunk = int(argv[i + 1])
            argv = argv[:i] + argv[i + 2:]
        if "--slice" in argv:
            i = argv.index("--slice")
            slice_spec = argv[i + 1]
            argv = argv[:i] + argv[i + 2:]
        if "--out" in argv:
            i = argv.index("--out")
            out = pathlib.Path(argv[i + 1])
            argv = argv[:i] + argv[i + 2:]
        return sweep(led, argv, timeout, chunk, slice_spec, out)
    print(__doc__)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
