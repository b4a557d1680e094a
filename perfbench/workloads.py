"""The benchmark's workloads, driven through the package's public entry
points: ``get_spark``, ``REGISTRY[q].fn``, ``Engine.run``, ``Engine.test``
and ``Check.run``.

Both are closed loops with one client in one process on ``local[nproc]``:
the next operation starts only when the previous one has returned.
Each workload pays one cold set-up (session, then an untimed warm-up
that fills the first-build caches), then runs its timed repetitions.

``medallion``  the reference's own job.  Full streaming backfills of a
               seeded IoT landing on fresh warehouses, then a trickle of
               small landings, each followed by a triggered refresh and
               the reference checks.  A backfill reads the whole
               landing in one trigger; a refresh is bound by fixed cost
               per trigger and by the gold models' full recompute.
``curation``   the 9 LLM-data headline queries over a seeded corpus with
               graded near-duplicate clusters, so the dedup operators
               get real candidate pairs.  Each query is freshly built
               and run to the ``noop`` sink, which executes the whole
               plan (``count()`` would let Catalyst prune it).  Bound by
               DataFrame construction in Python and by text expressions.
"""

from __future__ import annotations

import contextlib
import shutil
import signal
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np

from . import gen, oracle
from .trace import (STREAM_DURATIONS, EventLog, Tracer, host_record,
                    host_sample, peak_rss_mb, spark_counters,
                    stream_listener, tail)

CURATION = ("text_quality_score", "gopher_quality_rules",
            "quality_classifier_score", "dedup_minhash_lsh_capped",
            "fuzzy_dedup_report_capped", "similarity_topk_bruteforce",
            "bm25_topk", "bm25_from_postings", "hybrid_search_rrf")
MODELS = ("bronze.iot_events", "silver.iot_events", "gold.dim_locations",
          "gold.dim_date", "gold.fact_iot_events")

#: corpus documents, sized so that a run (set-up, oracle check and
#: passes) fits the time budget; TPC-H-ish scale (sf 1 = 6 M lineitems)
#: of the tables the legacy subset of the traced run also reads
N_DOCS, LEGACY_SF = 400, 0.01
#: repetitions a run makes however short ``--seconds`` is; the traced
#: run makes at least 5 passes or backfills (see Run.traced_rep).  The
#: first of each still runs colder (JIT) code; a median of three leaves
#: it out
MIN_PASSES, MIN_BACKFILLS = 3, 3
#: landings after the backfills, each refreshed and checked; a fixed
#: count, since each one grows silver and so the gold recomputes
REFRESHES = 3
#: share of ``--seconds`` the medallion run spends on backfills
BACKFILL_SHARE = 0.4
#: seconds one query, backfill or refresh may take before it counts as
#: failed and ends the run
OP_DEADLINE_S = 60.0


def noop(df) -> None:
    """The timed action: execute the full plan, keep no output."""
    df.write.format("noop").mode("overwrite").save()


class OpTimeout(BaseException):
    """An operation passed its deadline.  Not an ``Exception``, so it
    passes the per-operation handlers and ends the run: the JVM is left
    inside the call, and is killed rather than reused."""


@contextlib.contextmanager
def deadline(what: str, seconds: float = OP_DEADLINE_S):
    """Raise :class:`OpTimeout` in the main thread after ``seconds``."""
    def expire(*_):
        raise OpTimeout(f"{what}: no result within {seconds:g}s")

    old = signal.signal(signal.SIGALRM, expire)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        yield
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, old)


class Run:
    """State of one benchmark invocation."""

    def __init__(self, seed: int, seconds: float, traced: bool,
                 work: Path, cores: int, log_dir: Path | None):
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.work, self.cores, self.log_dir = work, cores, log_dir
        self.tracer = Tracer()
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, float] = {}
        self.report: dict = {}
        self.spark = None
        #: (owner, attribute, span namer) wrapped in each traced arm
        self.shims: list[tuple] = []
        #: streaming progress reports, when the workload streams
        self.progress: list | None = None
        self.arms = 0

    def min_reps(self, untraced: int) -> int:
        return max(untraced, 5) if self.traced else untraced

    def traced_rep(self, i: int) -> bool:
        """Repetitions 2, 3, 6, 7, ... of a traced run are traced.  Taken
        from repetition 1 on, untraced and traced alternate in ABBA
        order, which cancels a linear drift (the JIT still warming) out
        of the traced/untraced ratio; repetition 0 is the coldest and
        stays out of that ratio."""
        return self.traced and i % 4 in (2, 3)

    @contextlib.contextmanager
    def arm(self, traced: bool):
        """One repetition, or phase, of the run.  When ``traced``, the
        spans, the Spark event log, the streaming listener and the layer
        shims are on for exactly its length, so untraced repetitions pay
        for none of them and :meth:`overhead` sees all of their cost."""
        if not traced:
            yield
            return
        log = EventLog(self.spark, self.log_dir, f"arm-{self.arms:04d}")
        self.arms += 1
        listener = None
        if self.progress is not None:
            listener = stream_listener(self.progress)
            self.spark.streams.addListener(listener)
        for owner, attr, span in self.shims:
            self.tracer.wrap(owner, attr, span)
        self.tracer.enabled = True
        # no finally: after an OpTimeout the JVM is not called again
        yield
        self.tracer.enabled = False
        self.tracer.unwrap_all()
        log.stop()                  # also delivers the listener's reports
        if listener is not None:
            self.spark.streams.removeListener(listener)

    @staticmethod
    def overhead(reps: dict[bool, list[float]]) -> float:
        """Traced over untraced median, repetition 0 left out."""
        return (statistics.median(reps[True])
                / statistics.median(reps[False][1:]))

    def log(self, what: str) -> None:
        """A progress line on stderr."""
        print(f"# {what}", file=sys.stderr, flush=True)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(what[:300])

    def start_spark(self):
        from iot_simulator_datalake_spark.session import get_spark
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.layer["session.start_s"] = time.perf_counter() - t0
        return self.spark

    def finish(self, host0: dict, e2e: dict,
               reps: dict[str, int] | None = None) -> dict:
        """Memory, host noise, event-log counters; then the result.
        ``reps``: traced repetitions per window-name prefix."""
        # one high-water mark per run; too GC-timing dependent to bound
        self.layer["memory.peak_rss_mb"] = peak_rss_mb(self.spark)
        self.report["peak_rss_mb"] = self.layer["memory.peak_rss_mb"]
        self.report.update(host_record(host0, host_sample()))
        if self.traced:
            counters, first_job = spark_counters(
                self.log_dir, self.tracer.windows, self.cores, reps)
            self.layer.update(counters)
            self._split_actions(first_job)
        return self.result(e2e)

    def result(self, e2e: dict) -> dict:
        self.report["fail_ratio"] = self.failed / max(1, self.attempted)
        self.report["errors"] = self.errors
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "e2e": e2e, "layer": self.layer,
                "report": self.report}

    def _split_actions(self, first_job: dict) -> None:
        """plan_s runs from the action's start to its first job's
        submission, exec_s from there until the action returns."""
        n_traced = max(1, self.report.get("traced_passes", 1))
        for i, (name, lo, hi) in enumerate(self.tracer.windows):
            if not name.startswith("query."):
                continue
            q = name.split(".", 1)[1]
            fj = min(max(first_job.get(i, lo), lo), hi)
            for part, v in (("plan_s", fj - lo), ("exec_s", hi - fj)):
                key = f"query.{q}.{part}"
                self.layer[key] = self.layer.get(key, 0.0) + v / n_traced
        for part in ("build_s", "plan_s", "exec_s"):
            self.layer[f"queries.{part}"] = sum(
                self.layer.get(f"query.{q}.{part}", 0.0) for q in CURATION)


# -- curation -----------------------------------------------------------------

def run_curation(run: Run) -> dict:
    from iot_simulator_datalake_spark.queries import REGISTRY

    host0 = host_sample()
    data = run.work / "data"
    gen.write_corpus(data, run.seed, N_DOCS)
    names = CURATION

    # set-up: session, then every query once through the timed action,
    # which fills the schema and expression memos and the stage-once
    # bm25 index; one thread per core, since cold builds are mostly
    # single-threaded driver work (planning, code generation, JIT)
    t0 = time.perf_counter()
    spark = run.start_spark()
    with ThreadPoolExecutor(run.cores) as pool:
        warm = [pool.submit(_warm_query, spark, REGISTRY[n], data)
                for n in names]
    warm_errors = [f.result() for f in warm]
    setup_s = time.perf_counter() - t0
    run.log(f"set-up {setup_s:.2f}s")

    # correctness, outside the timed region: every query's result
    # against its DuckDB twin (which also warms the build path further),
    # one query per core at a time; the gate's report lines go to stderr
    t_check = time.perf_counter()
    con = oracle.duck(data)

    def check(name: str, err: str | None) -> str | None:
        if err:
            return f"warm-up: {err}"
        try:
            return oracle.query_mismatch(spark, con.cursor(), data, name)
        except Exception as e:  # noqa: BLE001 - counted as a failure
            return f"{type(e).__name__}: {e}"

    with contextlib.redirect_stdout(sys.stderr), \
            ThreadPoolExecutor(run.cores) as pool:
        verdicts = list(pool.map(check, names, warm_errors))
    for name, bad in zip(names, verdicts):
        run.attempted += 1
        if bad:
            run.fail(f"{name}: {bad}")
    run.log(f"oracle check {time.perf_counter() - t_check:.2f}s")

    # timed: closed-loop passes in a seeded order, each query built fresh
    rng = np.random.default_rng([run.seed, 4])
    passes: dict[bool, list[float]] = {False: [], True: []}
    t_run = time.perf_counter()
    i = 0
    per_query: dict[str, list[float]] = {n: [] for n in names}
    while (i < run.min_reps(MIN_PASSES)
           or time.perf_counter() - t_run < run.seconds):
        traced = run.traced_rep(i)
        with run.arm(traced):
            p0 = time.perf_counter()
            for name in rng.permutation(names):
                per_query[name].append(
                    _timed_query(run, spark, REGISTRY[name], data))
            passes[traced].append(time.perf_counter() - p0)
        run.log(f"pass {i} {passes[traced][-1]:.2f}s")
        i += 1

    # a pass's wall is the sum of its queries' walls; summing each
    # query's median over the passes damps a stall in any one of them
    pass_s = sum(statistics.median(v) for v in per_query.values())
    ops = [t for v in per_query.values() for t in v]
    run.report.update({
        "pass_s": pass_s, "passes": i,
        "query_p50_s": statistics.median(ops), "query_tail": tail(ops),
        "traced_passes": len(passes[True])})
    if run.traced:
        run.layer["trace.overhead"] = run.overhead(passes)
        gen.write_tables(data, run.seed, LEGACY_SF)
        run.layer["legacy.count_subset_s"] = _legacy_subset(spark, data)
        for name in names:
            run.layer[f"query.{name}.build_s"] = (
                run.tracer.total(f"query.{name}.build_s") / len(passes[True]))
    return run.finish(host0, {"setup_s": setup_s, "pass_s": pass_s,
                              "op_p50_s": statistics.median(ops)},
                      {"query.": len(passes[True])})


def _warm_query(spark, qd, data: Path) -> str | None:
    try:
        noop(qd.fn(spark, str(data)))
    except Exception as e:  # noqa: BLE001 - reported by the check
        return f"{type(e).__name__}: {e}"
    return None


def _timed_query(run: Run, spark, qd, data: Path) -> float:
    run.attempted += 1
    t0 = time.perf_counter()
    try:
        with deadline(qd.name):
            df = qd.fn(spark, str(data))
            t1, a0 = time.perf_counter(), time.time()
            noop(df)
            a1 = time.time()
    except Exception as e:  # noqa: BLE001 - counted as a failure
        run.fail(f"{qd.name}: {type(e).__name__}: {e}")
        return time.perf_counter() - t0
    run.tracer.add(f"query.{qd.name}.build_s", t1 - t0)
    run.tracer.window(f"query.{qd.name}", a0, a1)
    return time.perf_counter() - t0


def _legacy_subset(spark, data: Path) -> float:
    """bench.py's 14-query BASELINE_SUBSET under bench.py's own action
    (count(), or a per-column aggregate where count() drops a join).
    Labelled legacy: count() prunes plans, so this is continuity only."""
    from bench import BASELINE_SUBSET, count_is_faithful
    from iot_simulator_datalake_spark.actions import full_mat
    from iot_simulator_datalake_spark.queries import REGISTRY

    # bench.py's untimed warm-up pass decides the action per query
    full = set()
    for n in BASELINE_SUBSET:
        df = REGISTRY[n].fn(spark, str(data))
        if count_is_faithful(df):
            df.count()
        else:
            full.add(n)
            full_mat(df)
    total = 0.0
    for n in BASELINE_SUBSET:
        t0 = time.perf_counter()
        df = REGISTRY[n].fn(spark, str(data))
        full_mat(df) if n in full else df.count()
        total += time.perf_counter() - t0
    return total


# -- medallion ----------------------------------------------------------------

def run_medallion(run: Run) -> dict:
    from iot_simulator_datalake_spark.engine import Check
    from iot_simulator_datalake_spark.sources import json_source

    host0 = host_sample()
    landing = run.work / "landing"
    landed = sum(gen.land(landing, run.seed, b, gen.FILE_ROWS)
                 for b in range(gen.BACKFILL_FILES))
    run.progress = []
    run.shims = [
        (json_source, "infer_and_persist_schema",
         lambda *a, **k: "sources.schema_infer_s"),
        (Check, "run", lambda chk, *a, **k: f"engine.check_s.{chk.name}")]

    # set-up: session, then one untimed backfill on a scratch warehouse
    t0 = time.perf_counter()
    spark = run.start_spark()
    _job(run, spark, landing, run.work / "wh_warm", "warm")
    shutil.rmtree(run.work / "wh_warm")
    setup_s = time.perf_counter() - t0
    run.log(f"set-up {setup_s:.2f}s")

    t_run, bf_start = time.perf_counter(), time.time()
    backfills: dict[bool, list[float]] = {False: [], True: []}
    n, wh = 0, None
    while (n < run.min_reps(MIN_BACKFILLS)
           or time.perf_counter() - t_run < BACKFILL_SHARE * run.seconds):
        if wh is not None:
            shutil.rmtree(wh)
        wh = run.work / f"wh{n}"
        traced = run.traced_rep(n)
        with run.arm(traced):
            wall, eng = _job(run, spark, landing, wh, "backfill")
        backfills[traced].append(wall)
        run.log(f"backfill {n} {wall:.2f}s")
        n += 1

    rf_start = time.time()
    refreshes: list[float] = []
    with run.arm(run.traced):
        for batch in range(gen.BACKFILL_FILES,
                           gen.BACKFILL_FILES + REFRESHES):
            landed += gen.land(landing, run.seed, batch, gen.FILE_ROWS)
            wall, eng = _job(run, spark, landing, wh, "refresh")
            refreshes.append(wall)
            run.log(f"refresh {len(refreshes)} {wall:.2f}s")
    rf_end = time.time()

    run.attempted += 1
    try:
        bad = oracle.medallion_mismatch(eng, landing)
    except Exception as e:  # noqa: BLE001 - counted as a failure
        bad = f"{type(e).__name__}: {e}"
    if bad:
        run.fail(f"medallion output: {bad}")

    all_bf = backfills[False] + backfills[True]
    run.report.update({
        "backfill_s": statistics.median(all_bf), "backfills": len(all_bf),
        "refresh_p50_s": statistics.median(refreshes),
        "refresh_tail": tail(refreshes), "refreshes": len(refreshes),
        "landed_bytes": landed})
    reps = {"engine.backfill": len(backfills[True]),
            "engine.refresh": len(refreshes)}
    if run.traced:
        _medallion_layers(run, backfills, wh, landed)
        _stream_layers(run.layer, run.progress, reps, bf_start, rf_start,
                       rf_end)
    return run.finish(host0, {"setup_s": setup_s,
                              "pass_s": statistics.median(all_bf),
                              "op_p50_s": statistics.median(refreshes)},
                      reps)


def _job(run: Run, spark, landing: Path, wh: Path, phase: str):
    """One triggered job run: ``Engine.run()`` then ``Engine.test()``.
    Returns its wall and the engine; a failed run or check counts."""
    from iot_simulator_datalake_spark.engine import Engine
    from iot_simulator_datalake_spark.pipeline import (
        attach_reference_checks, build_registry)

    counted = phase != "warm"
    run.attempted += counted
    t0, e0 = time.perf_counter(), time.time()
    eng = Engine(spark, build_registry(streaming=True),
                 config={"iot_events_path": str(landing),
                         "warehouse": str(wh)}, warehouse=wh)
    attach_reference_checks(eng)
    try:
        with deadline(phase):
            res = eng.run()
            t1 = time.perf_counter()
            checks = eng.test()
    except Exception as e:  # noqa: BLE001 - counted as a failure
        if counted:
            run.fail(f"{phase}: {type(e).__name__}: {e}")
        return time.perf_counter() - t0, eng
    t2 = time.perf_counter()
    failed = [c.name for c in checks if not c.passed]
    if failed and counted:
        run.fail(f"{phase}: checks failed: {failed}")
    tr = run.tracer
    tr.window(f"engine.{phase}", e0, time.time())
    for m, s in res.seconds.items():
        tr.add(f"engine.{phase}.model_s.{m}", s)
    tr.add(f"engine.{phase}.dag_overlap",
           sum(res.seconds.values()) / (t1 - t0))
    tr.add(f"engine.{phase}.checks_s", t2 - t1)
    return t2 - t0, eng


def _dir_bytes(p: Path) -> int:
    return sum(f.stat().st_size for f in p.rglob("*")
               if f.is_file() and not f.is_symlink())


def _medallion_layers(run: Run, backfills: dict, wh: Path,
                      landed: int) -> None:
    tr, layer, med = run.tracer, run.layer, statistics.median
    for phase in ("backfill", "refresh"):
        for m in MODELS:
            layer[f"engine.{phase}.model_s.{m}"] = med(
                tr.spans[f"engine.{phase}.model_s.{m}"])
    layer["engine.dag_overlap"] = med(tr.spans["engine.backfill.dag_overlap"])
    layer["engine.checks_s"] = med(tr.spans["engine.refresh.checks_s"])
    for name, v in tr.spans.items():
        if name.startswith("engine.check_s."):
            layer[name] = med(v)
    layer["sources.schema_infer_s"] = (tr.total("sources.schema_infer_s")
                                       / len(backfills[True]))
    layer["trace.overhead"] = run.overhead(backfills)
    # a gold table is a symlink to its current version dir; superseded
    # version dirs stay on disk for the whole run (nothing vacuums them)
    stale = 0
    for d in wh.rglob("*.v-*"):
        link = d.parent / d.name.split(".v-")[0]
        if d.is_dir() and link.is_symlink() and \
                link.resolve() != d.resolve():
            stale += _dir_bytes(d)
    on_disk = _dir_bytes(wh)
    layer["engine.write_amp"] = on_disk / landed
    layer["engine.space_amp"] = on_disk / (on_disk - stale)


def _stream_layers(layer: dict, progress: list, reps: dict[str, int],
                   bf_start: float, rf_start: float, rf_end: float) -> None:
    """Streaming progress of the traced triggers.  A count is per traced
    backfill plus per refresh, like the Spark counters; a duration is the
    median per trigger, addBatch over the backfill triggers and the fixed
    per-trigger costs over the refresh ones."""
    for name, lo, hi in (("engine.backfill", bf_start, rf_start),
                         ("engine.refresh", rf_start, rf_end)):
        trig = [p for p in progress if lo <= p[0] < hi]
        for metric, v in (("batches", len(trig)),
                          ("input_rows", sum(p[2] for p in trig))):
            key = f"streaming.{metric}"
            layer[key] = layer.get(key, 0.0) + v / max(1, reps[name])
    for key, metric in STREAM_DURATIONS.items():
        lo, hi = (bf_start, rf_start) if key == "addBatch" \
            else (rf_start, rf_end)
        vals = [p[1].get(key, 0) / 1000.0 for p in progress
                if lo <= p[0] < hi]
        layer[f"streaming.{metric}"] = statistics.median(vals) if vals else 0.0
