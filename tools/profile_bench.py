"""Stage-level profiler for the benched queries (optimization guide §1).

Runs the given declared queries exactly like bench.py (warm-up pass,
then one timed pass with the SAME action: count() or full_mat), with
``spark.eventLog.enabled=true`` and a per-query job description, then
parses the event log to attribute every job/stage to its query and
prints, per query:

- wall seconds of the timed pass
- each job (description-tagged) with its stages: stage name,
  duration, task count, shuffle read/write bytes, input bytes

This answers "WHERE does the time go" (exchange count, straggler
stages, serial job chains) without the Spark UI, which is disabled in
this environment.

Usage: python tools/profile_bench.py [--sf DIR] [query ...]
       (no queries → all bench=True queries)
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession  # noqa: E402

from iot_simulator_datalake_spark.actions import full_mat  # noqa: E402
from iot_simulator_datalake_spark.queries import REGISTRY  # noqa: E402
from iot_simulator_datalake_spark.session import (  # noqa: E402
    RUNTIME_CONFS, default_parallelism, driver_memory, tune_session)

LOG_DIR = "/tmp/spark-events-profile"


def get_profiling_spark() -> SparkSession:
    n = default_parallelism()
    Path(LOG_DIR).mkdir(parents=True, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("profile_bench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", LOG_DIR)
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse"))
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_session(spark)


def run_queries(spark: SparkSession, names: list[str], sf_dir: str
                ) -> dict[str, float]:
    from bench import count_is_faithful  # reuse the bench's action rule
    walls: dict[str, float] = {}
    for name in names:  # warm-up (JIT/codegen/listing) — untimed
        df = REGISTRY[name].fn(spark, sf_dir)
        fm = not count_is_faithful(df)
        full_mat(df) if fm else df.count()
        REGISTRY[name].full_mat = fm  # type: ignore[attr-defined]
    for name in names:
        sc = spark.sparkContext
        sc.setJobDescription(f"PROFILE::{name}")
        t0 = time.monotonic()
        df = REGISTRY[name].fn(spark, sf_dir)
        if getattr(REGISTRY[name], "full_mat", False):
            full_mat(df)
        else:
            df.count()
        walls[name] = time.monotonic() - t0
        sc.setJobDescription(None)
    return walls


def _log_lines(app_id: str):
    """Yield event-log JSON lines, handling both the single-file layout
    and Spark 4's rolling ``eventlog_v2_<app>/events_N_<app>[.zstd]``."""
    single = Path(LOG_DIR) / app_id
    if single.is_file():
        yield from single.read_text().splitlines()
        return
    d = Path(LOG_DIR) / f"eventlog_v2_{app_id}"
    for p in sorted(d.glob(f"events_*_{app_id}*")):
        if p.suffix == ".zstd":
            import pyarrow as pa
            with pa.input_stream(str(p), compression="zstd") as f:
                yield from f.read().decode().splitlines()
        else:
            yield from p.read_text().splitlines()


def parse_event_log(app_id: str) -> dict:
    """query -> list of {job_id, stages: [...]}, from the JSON log."""
    job_desc: dict[int, str] = {}
    job_stages: dict[int, list[int]] = {}
    job_times: dict[int, list[float]] = {}
    stage_info: dict[int, dict] = {}
    stage_metrics: dict[int, dict] = defaultdict(
        lambda: {"shuffle_read": 0, "shuffle_write": 0, "input": 0,
                 "spill": 0, "tasks": 0, "task_time_ms": 0})
    for line in _log_lines(app_id):
        ev = json.loads(line)
        et = ev.get("Event")
        if et == "SparkListenerJobStart":
            jid = ev["Job ID"]
            desc = ev.get("Properties", {}).get(
                "spark.job.description", "")
            job_desc[jid] = desc
            job_stages[jid] = [s["Stage ID"] for s in ev["Stage Infos"]]
            job_times[jid] = [ev.get("Submission Time", 0) / 1000.0, 0.0]
        elif et == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_times:
                job_times[jid][1] = ev.get("Completion Time", 0) / 1000.0
        elif et == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            sub = si.get("Submission Time")
            com = si.get("Completion Time")
            stage_info[sid] = {
                "name": si.get("Stage Name", "?"),
                "sec": ((com - sub) / 1000.0
                        if sub and com else None),
                "tasks": si.get("Number of Tasks", 0)}
        elif et == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            m = ev.get("Task Metrics") or {}
            sm = stage_metrics[sid]
            sm["tasks"] += 1
            sm["task_time_ms"] += m.get("Executor Run Time", 0)
            sm["input"] += (m.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
            sm["shuffle_read"] += (
                (m.get("Shuffle Read Metrics") or {}).get(
                    "Remote Bytes Read", 0) +
                (m.get("Shuffle Read Metrics") or {}).get(
                    "Local Bytes Read", 0))
            sm["shuffle_write"] += (
                (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0))
            sm["spill"] += m.get("Disk Bytes Spilled", 0)
    out: dict[str, list] = defaultdict(list)
    for jid, desc in sorted(job_desc.items()):
        if not desc.startswith("PROFILE::"):
            continue
        q = desc.split("::", 1)[1]
        sub, com = job_times.get(jid, [0, 0])
        stages = []
        for sid in sorted(job_stages.get(jid, [])):
            if sid not in stage_info:
                continue  # skipped stage (reused exchange)
            info = dict(stage_info[sid])
            info.update({k: v for k, v in stage_metrics[sid].items()})
            info["stage_id"] = sid
            stages.append(info)
        out[q].append({"job_id": jid,
                       "job_sec": (com - sub) if com else None,
                       "stages": stages})
    return dict(out)


def main(argv: list[str]) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if argv[:1] == ["--sf"]:
        sf_dir, argv = argv[1], argv[2:]
    names = argv or [n for n, qd in REGISTRY.items() if qd.bench]
    bad = [n for n in names if n not in REGISTRY]
    if bad:
        print(f"unknown queries: {bad}", file=sys.stderr)
        return 2
    spark = get_profiling_spark()
    app_id = spark.sparkContext.applicationId
    walls = run_queries(spark, names, sf_dir)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()  # flush
    # event log flushes on stop; read after stopping the session
    spark.stop()
    prof = parse_event_log(app_id)
    for name in names:
        print(f"\n=== {name}: wall {walls[name]:.3f}s, "
              f"{len(prof.get(name, []))} jobs ===")
        for j in prof.get(name, []):
            js = f"{j['job_sec']:.3f}s" if j["job_sec"] else "?"
            print(f"  job {j['job_id']} ({js})")
            for s in j["stages"]:
                sec = f"{s['sec']:.3f}s" if s["sec"] is not None else "?"
                print(f"    stage {s['stage_id']:>4} {sec:>8} "
                      f"tasks={s['tasks']:>3} "
                      f"exec={s['task_time_ms']/1000.0:6.2f}s "
                      f"in={s['input']>>20}M "
                      f"sr={s['shuffle_read']>>10}K "
                      f"sw={s['shuffle_write']>>10}K "
                      f"spill={s['spill']>>20}M  {s['name'][:60]}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
