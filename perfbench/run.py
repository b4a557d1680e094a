"""Benchmark entry point; run it from the repository root:

    python3 perfbench/run.py --workload {medallion,curation} --seed N \\
        --seconds S --trace {0,1}

``--trace 0`` reports the end-to-end metrics BENCHMARK.json names,
``--trace 1`` the per-layer ones (in traced repetitions, Spark's event
log is attached to the running context and the layers' public entry
points are wrapped at runtime).  One JSON report line comes first, with
the per-workload names (``backfill_s``, ``refresh_p50_s``,
``refresh_tail``, ...), the failure ratio and the host-noise record; the
last line is the result object.

Each run sizes Spark to the machine (``SPARK_GRAFT_CPUS`` = usable CPUs,
``SPARK_DRIVER_MEM`` from MemAvailable), keeps every file it writes
(inputs, warehouses, checkpoints, Spark scratch, temp files) under
``.perfbench_work/`` and deletes it before exiting.  The exit code is 0
when every output was correct, 1 otherwise; an operation that passes
its deadline ends the run with no metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def machine_env(work: Path) -> dict[str, str]:
    """Spark sizing and scratch locations for one run."""
    if any(c.isspace() for c in str(work)):
        raise SystemExit(f"work directory {work} contains whitespace")
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        avail_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemAvailable:"))
    # a quarter of what is free, in whole GiB, between 1 and 3: the host
    # is shared, and the session's own 48g default exceeds it
    mem_gb = min(3, max(1, avail_kb // (4 << 20)))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # -XX:-UsePerfData: no hsperfdata file under /tmp either
    submit = [f'--driver-java-options "-Djava.io.tmpdir={tmp} '
              f'-XX:-UsePerfData"']
    return {"SPARK_GRAFT_CPUS": str(cpus),
            # spark-submit's launcher JVM, which builds the driver command
            "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "SPARK_DRIVER_MEM": f"{mem_gb}g",
            "TMPDIR": str(tmp),
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"])}


def stop_spark(kill: bool) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes),
    and wait for it.  With ``kill``, the JVM is inside an abandoned call
    and is killed without being called again."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if kill:
        if proc is not None:
            proc.kill()
            proc.wait(timeout=60)
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def metrics(spec: dict, result: dict, traced: bool) -> dict:
    if traced:
        # a layer the workload bypasses did no work: 0
        layer = result["layer"]
        return {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                            "unit": m["unit"]} for m in spec["per_layer"]}
    return {m["name"]: {"value": float(result["e2e"][m["name"]]),
                        "unit": m["unit"]} for m in spec["end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("medallion", "curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    sys.path.insert(0, str(ROOT))
    import iot_simulator_datalake_spark  # noqa: F401  fail fast without it

    from perfbench import workloads

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    traced = bool(args.trace)
    env = machine_env(work)
    os.environ.update(env)
    tempfile.tempdir = None            # re-read TMPDIR
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = workloads.Run(args.seed, args.seconds, traced, work,
                        int(env["SPARK_GRAFT_CPUS"]), work / "eventlog")
    timed_out = False
    try:
        fn = (workloads.run_medallion if args.workload == "medallion"
              else workloads.run_curation)
        try:
            result = fn(run)
        except workloads.OpTimeout as e:
            timed_out = True
            run.fail(str(e))
            result = run.result({})
    finally:
        stop_spark(kill=timed_out)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            work.parent.rmdir()
    result["report"].update({
        "workload": args.workload, "seed": args.seed,
        "spark_graft_cpus": int(env["SPARK_GRAFT_CPUS"]),
        "spark_driver_mem": env["SPARK_DRIVER_MEM"],
        "setup_s": result["e2e"].get("setup_s")})
    print(json.dumps({"report": result["report"]}))
    print(json.dumps({"correct": result["correct"],
                      "attempted": result["attempted"],
                      "failed": result["failed"],
                      "metrics": ({} if timed_out
                                  else metrics(spec, result, traced))}))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
