"""Measurement helpers: host-noise record, memory high-water mark, Spark
event-log counters and the runtime span wrappers of the traced run.

Nothing here edits the program.  Spans time the calls the benchmark
makes.  In the traced run only, and only for the length of a traced
repetition, :class:`Tracer.wrap` replaces a layer's public entry point
with a timing shim and :class:`EventLog` attaches Spark's own JSON event
log, the source of the stage counters, to the running context.
"""

from __future__ import annotations

import json
import os
import resource
import time
from collections import defaultdict
from pathlib import Path


# -- host noise ---------------------------------------------------------------

def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def host_sample() -> dict:
    """bench.py's contention sentinel (one repetition), loadavg and the
    CPU jiffy counters."""
    from bench import calibration_sec

    steal, total = _cpu_ticks()
    return {"calibration_sec": calibration_sec(reps=1),
            "loadavg": list(os.getloadavg()),
            "steal_ticks": steal, "total_ticks": total}


def host_record(start: dict, end: dict) -> dict:
    """Calibration and loadavg at both ends, plus the CPU steal share of
    all jiffies that elapsed in between."""
    d_total = end["total_ticks"] - start["total_ticks"]
    d_steal = end["steal_ticks"] - start["steal_ticks"]
    return {
        "bench.calibration_sec": {"start": start["calibration_sec"],
                                  "end": end["calibration_sec"]},
        "loadavg": {"start": start["loadavg"], "end": end["loadavg"]},
        "cpu_steal_ratio": d_steal / d_total if d_total else 0.0,
    }


# -- memory -------------------------------------------------------------------

def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """The JVM's resident high-water mark plus this Python driver's."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_vm_hwm_kb(jvm_pid) + py_kb) / 1024.0


# -- percentiles --------------------------------------------------------------

def tail(samples: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it, with
    its rank and the sample count; None below eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    k = n - 10                      # 1-based rank with 10 samples above
    return {"value": sorted(samples)[k - 1], "percentile": 100.0 * k / n,
            "samples": n}


# -- spans --------------------------------------------------------------------

class Tracer:
    """In-memory spans plus named windows of wall-clock time.

    ``enabled`` is true only inside a traced repetition; a disabled
    tracer records nothing."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: dict[str, list[float]] = defaultdict(list)
        self.windows: list[tuple[str, float, float]] = []
        self._restore: list[tuple[object, str, object]] = []

    def add(self, name: str, seconds: float) -> None:
        if self.enabled:
            self.spans[name].append(seconds)

    def window(self, name: str, start: float, end: float) -> None:
        """Record an epoch-seconds interval; event-log jobs submitted
        inside it are attributed to ``name``."""
        if self.enabled:
            self.windows.append((name, start, end))

    def total(self, name: str) -> float:
        return sum(self.spans.get(name, ()))

    def wrap(self, owner, attr: str, span) -> None:
        """Replace ``owner.attr`` with a shim that adds its wall time to
        the span ``span(*args)`` names.  Undone by :meth:`unwrap_all`."""
        orig = getattr(owner, attr)
        tracer = self

        def shim(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.add(span(*args), time.perf_counter() - t0)

        setattr(owner, attr, shim)
        self._restore.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()


# -- Spark event log ----------------------------------------------------------

_SPARK_COUNTERS = ("jobs", "stages", "tasks", "failed_tasks",
                   "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                   "input_bytes", "output_bytes", "gc_s", "python_bytes")


class EventLog:
    """Spark's JSON event log, attached to the running context as one
    more listener, written to ``log_dir/<name>``.  :meth:`stop` waits
    until the listener bus has delivered every event posted so far."""

    def __init__(self, spark, log_dir: Path, name: str) -> None:
        sc = spark.sparkContext
        jvm, self._sc = sc._jvm, sc._jsc.sc()
        conf = (self._sc.conf().clone()
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false"))
        log_dir.mkdir(parents=True, exist_ok=True)
        self._el = jvm.org.apache.spark.scheduler.EventLoggingListener(
            name, jvm.scala.Option.apply(None),
            jvm.java.net.URI(log_dir.as_uri()), conf,
            self._sc.hadoopConfiguration())
        self._el.start()
        self._sc.addSparkListener(self._el)

    def stop(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()
        self._sc.removeSparkListener(self._el)
        self._el.stop()


def read_event_log(log_dir: Path) -> tuple[dict, dict, list]:
    """Parse every event log file under ``log_dir`` into job submission
    times (epoch s), job -> stage ids, and finished tasks."""
    files = sorted(p for p in Path(log_dir).iterdir() if p.is_file())
    if not files:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    jobs, job_stages, tasks = {}, {}, []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                    job_stages[ev["Job ID"]] = ev["Stage IDs"]
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    return jobs, job_stages, tasks


def spark_counters(log_dir: Path, windows: list[tuple[str, float, float]],
                   cores: int, reps: dict[str, int]) -> tuple[dict, dict]:
    """Spark counters of the jobs submitted inside the windows, and the
    first job submission time inside each window.

    ``reps`` maps a window-name prefix to the number of repetitions its
    windows cover; each counter is the sum over prefixes of its total
    divided by those repetitions, so it describes one repetition of each
    kind and does not grow when more repetitions fit in a run.
    ``busy_ratio`` is task run time over cores x window wall."""
    jobs, job_stages, tasks = read_event_log(log_dir)

    def group(name: str) -> str:
        return next(p for p in reps if name.startswith(p))

    first_job: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    per: dict[str, dict[str, float]] = {
        g: dict.fromkeys(_SPARK_COUNTERS, 0.0) for g in reps}
    for jid in sorted(jobs):
        t = jobs[jid]
        for i, (name, lo, hi) in enumerate(windows):
            if lo <= t <= hi:
                g = group(name)
                per[g]["jobs"] += 1
                first_job[i] = min(first_job.get(i, t), t)
                for sid in job_stages[jid]:
                    stage_group.setdefault(sid, g)
                break
    run_ms = 0.0
    seen_stages = set()
    for ev in tasks:
        g = stage_group.get(ev["Stage ID"])
        if g is None:
            continue
        c = per[g]
        if ev["Stage ID"] not in seen_stages:
            seen_stages.add(ev["Stage ID"])
            c["stages"] += 1
        c["tasks"] += 1
        if ev.get("Task End Reason", {}).get("Reason") != "Success":
            c["failed_tasks"] += 1
        m = ev.get("Task Metrics") or {}
        run_ms += m.get("Executor Run Time", 0)
        c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        rd = m.get("Shuffle Read Metrics", {})
        c["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                    + rd.get("Local Bytes Read", 0))
        c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0)
        c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
        c["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        c["output_bytes"] += m.get("Output Metrics", {}).get(
            "Bytes Written", 0)
        for acc in ev.get("Task Info", {}).get("Accumulables", []):
            if "Python workers" in str(acc.get("Name", "")):
                c["python_bytes"] += float(acc.get("Update", 0) or 0)
    out = {f"spark.{k}": sum(per[g][k] / max(1, reps[g]) for g in reps)
           for k in _SPARK_COUNTERS}
    wall = sum(hi - lo for _, lo, hi in windows)
    out["spark.busy_ratio"] = run_ms / 1000.0 / (cores * wall) if wall else 0.0
    return out, first_job


# -- streaming progress -------------------------------------------------------

#: StreamingQueryProgress.durationMs key → metric suffix
STREAM_DURATIONS = {"latestOffset": "latest_offset_s",
                    "queryPlanning": "query_planning_s",
                    "addBatch": "add_batch_s",
                    "walCommit": "wal_commit_s",
                    "commitOffsets": "commit_offsets_s"}


def stream_listener(sink: list):
    """A StreamingQueryListener appending each data-carrying progress
    report (epoch-s trigger start, durationMs, numInputRows) to ``sink``."""
    from datetime import datetime, timezone

    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if "addBatch" not in p.durationMs:
                return                  # a no-data trigger
            ts = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
            sink.append((ts.replace(tzinfo=timezone.utc).timestamp(),
                         dict(p.durationMs), p.numInputRows))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
