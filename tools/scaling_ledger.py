"""Replica-scale core-count scaling ledger (VERDICT r11 #2).

The driver's `scaling` block compares 8-core vs 32-core bench times at
sf0.1, where every query is sub-second and dominated by fixed
planning/scheduling overhead — the ratio is ≈1 for everything and the
block cannot distinguish "parallelises fine" from "serial".  This tool
produces the scale where cores matter: it runs the UNMODIFIED bench.py
(same queries, same actions, same median-of-3) on a ×N replica
(tools/replica.py) at each SPARK_GRAFT_CPUS given (default 1, 2, 4 —
a count above the host's cores measures oversubscription, not
scaling), cross-process (the master is fixed at context creation), and
writes a ledger JSON with the per-query core-ratio t_low/t_high plus
each run's calibration, loadavg and steal so a contended window is
visible in the artifact.  A query timed at 0.0 s on either side has no
ratio; it is listed under ``zero_time_queries`` instead.

Usage: python tools/scaling_ledger.py REPLICA_DIR OUT_JSON [cpus ...]
e.g.:  python tools/scaling_ledger.py /tmp/x10 SCALING.json 1 2 4
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


class BenchOutputError(RuntimeError):
    """bench.py exited cleanly but printed no JSON result line."""


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def run_bench(sf_dir: str, cpus: int) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_CPUS=str(cpus))
    s0, t0 = steal_jiffies(), time.monotonic()
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py")], env=env,
        capture_output=True, text=True, check=True)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        raise BenchOutputError(
            f"bench.py at SPARK_GRAFT_CPUS={cpus} printed no JSON line; "
            f"stderr tail: {out.stderr[-2000:]!r}")
    parsed = json.loads(lines[-1])
    parsed["_cpus"] = cpus
    parsed["_wall_sec"] = round(time.monotonic() - t0, 1)
    parsed["_steal_jiffies"] = steal_jiffies() - s0
    return parsed


def main(argv: list[str]) -> int:
    sf_dir, out_path = argv[0], argv[1]
    cpus_list = [int(c) for c in argv[2:]] or [1, 2, 4]
    runs = {c: run_bench(sf_dir, c) for c in cpus_list}
    lo, hi = min(cpus_list), max(cpus_list)
    ratios, zero = {}, []
    for q, t_hi in runs[hi]["queries"].items():
        t_lo = runs[lo]["queries"][q]
        if t_lo and t_hi:
            ratios[q] = round(t_lo / t_hi, 2)
        else:
            zero.append(q)
    ledger = {
        "replica_dir": sf_dir,
        "cpus": cpus_list,
        "ratio_low_over_high": ratios,
        "zero_time_queries": zero,
        "total_sec": {c: runs[c]["value"] for c in cpus_list},
        "runs": runs,
    }
    Path(out_path).write_text(json.dumps(ledger, indent=1))
    for q, r in sorted(ratios.items(), key=lambda kv: kv[1]):
        print(f"{q:32s} t{lo}/t{hi} = {r:5.2f} "
              f"({runs[lo]['queries'][q]:.2f}s / {runs[hi]['queries'][q]:.2f}s)")
    for q in zero:
        print(f"{q:32s} skipped: timed at 0.0 s, no ratio")
    print(f"totals: t{lo}={runs[lo]['value']}s t{hi}={runs[hi]['value']}s "
          f"ratio={runs[lo]['value']/runs[hi]['value']:.2f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
