"""SparkSession factory with scale-aware defaults.

The reference delegates session/cluster config to Databricks
(``resources/jobs.yml:7-19`` — single node, ``spark.master: local[*]``).
Here the equivalent knobs live in one place.  Tests and bench share one
session; the driver may pass its own session, in which case
:func:`tune_session` applies the runtime-settable subset (timezone,
AQE, shuffle partitions) without restarting the JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs applied to ANY session we are handed (driver's
#: included).  Session timezone is pinned to UTC so timestamp-derived
#: columns (year/month/hour buckets) agree bit-for-bit with the DuckDB
#: oracle, whose timestamps are UTC-naive.
#: NOTE (ADVICE r1): ``tune_session`` mutates the session it is handed —
#: including a driver-provided one — so these confs apply to ALL of that
#: session's subsequent reads, not just this library's tables.  In
#: particular ``inferTimestampNTZ=false`` changes how plain-µs parquet
#: timestamps decode session-wide (as UTC instants instead of NTZ).
#: This is deliberate: the library's query surface requires UTC-instant
#: semantics, and a per-read escape hatch exists anyway (queries.load
#: detects an NTZ ``events.ts`` and converts through the live session
#: timezone), so a driver that objects to the session-wide effect can
#: skip tune_session and still get correct results.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The driver's events table stores ts as parquet TIMESTAMP(NANOS),
    # which Spark rejects by default; read as long and convert in
    # queries.load (DuckDB converts ns→µs the same way: truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # µs timestamps written by pyarrow carry isAdjustedToUTC=false and
    # would otherwise infer as TIMESTAMP_NTZ; read them as session-tz
    # (UTC) instants so unix_micros/watermarks/window() all apply and
    # wall-clock values match the DuckDB oracle's naive timestamps.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def default_parallelism() -> int:
    """Shuffle-partition count: ≈ cores locally; a real cluster deployment
    would size this to 2-3× total executor cores (and lean on AQE
    coalescing), so we read the env the driver sets."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _cgroup_limit_bytes() -> int | None:
    """The container's memory limit (cgroup v2 ``memory.max`` or v1
    ``memory.limit_in_bytes``); ``None`` when unlimited or unreadable."""
    for f in ("/sys/fs/cgroup/memory.max",
              "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(f) as fh:
                raw = fh.read().strip()
        except OSError:
            continue
        # "max" (v2) or a page-rounded 2**63 (v1) both mean unlimited
        if raw.isdigit() and int(raw) < 1 << 60:
            return int(raw)
    return None


def _mem_available_bytes() -> int | None:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def driver_memory() -> str:
    """``spark.driver.memory`` for a local session: ``SPARK_DRIVER_MEM``
    if set, else half of the smaller of the cgroup limit and
    ``MemAvailable`` (at least 1 GiB).  In local mode the driver heap is
    the whole cluster's memory, and the JVM also needs off-heap room and
    the Python workers theirs, so half of what the machine can give is
    the default; a constant would either waste a large host or get the
    JVM OOM-killed on a small one."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    known = [b for b in (_cgroup_limit_bytes(), _mem_available_bytes())
             if b]
    if not known:
        return "4g"
    return f"{max(1024, min(known) // 2 >> 20)}m"


def tune_session(spark: SparkSession,
                 shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    ``spark.sql.shuffle.partitions`` IS runtime-settable, and the
    module docstring promises it: a driver-provided session would
    otherwise run every query at its own default (200) partitions.
    ``None`` sizes it from the environment like a fresh session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable at runtime on this build — fine
    try:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(shuffle_partitions or default_parallelism()))
    except Exception:
        pass
    return spark


def get_spark(app_name: str = "iot_simulator_datalake_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the shared local session.

    local[N] = one JVM, N executor threads; ``spark.driver.memory`` is the
    only memory knob in local mode.  On a real cluster the same code runs
    unchanged — only master/memory/shuffle-partition settings move to
    spark-submit.
    """
    n = shuffle_partitions or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
    )
    # spark.driver.maxResultSize stays at Spark's 1g DEFAULT for every
    # product session: product queries never collect unbounded results
    # (audited — limit-probed / 1-row aggregates / k x d pins only),
    # and the 1g guard keeps that audit mechanically enforced instead
    # of by convention (ADVICE r10).  Only the non-stream oracle-gate
    # modes, which deliberately fetch whole results, export the env
    # override (tools/check_oracle.py main); stream mode
    # (ORACLE_STREAM_MODE=1) verifies values via executor-side digests
    # and runs under the same 1g default as production.
    mr = os.environ.get("SPARK_DRIVER_MAX_RESULT")
    if mr:
        builder = builder.config("spark.driver.maxResultSize", mr)
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    # NOTE getOrCreate IGNORES builder configs when a session already
    # exists — master/memory are then fixed for the JVM's lifetime.
    # The runtime-settable subset (tune_session, incl. the explicit
    # shuffle_partitions arg) is re-applied below either way, so that
    # arg is honored even on a reused session.
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_session(spark, shuffle_partitions)
