"""Measurement helpers that need no Spark session."""

from __future__ import annotations

import json
import signal
import time

import pytest

from perfbench.trace import spark_counters
from perfbench.workloads import OpTimeout, deadline


def test_deadline_ends_a_hung_operation_and_clears_its_timer():
    with pytest.raises(OpTimeout, match="sleep"):
        with deadline("sleep", 0.05):
            time.sleep(5)
    with deadline("quick", 0.05):
        pass
    assert signal.getitimer(signal.ITIMER_REAL) == (0.0, 0.0)


def _log(path, jobs):
    """One event log: each (job id, submit s, stage id, task bytes)."""
    lines = []
    for jid, t, sid, nbytes in jobs:
        lines.append({"Event": "SparkListenerJobStart", "Job ID": jid,
                      "Submission Time": t * 1000, "Stage IDs": [sid]})
        lines.append({"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                      "Task End Reason": {"Reason": "Success"},
                      "Task Metrics": {"Executor Run Time": 1000,
                                       "Input Metrics": {"Bytes Read": nbytes}}})
    path.write_text("".join(json.dumps(x) + "\n" for x in lines))


def test_counters_describe_one_repetition_of_each_kind(tmp_path):
    # two backfills of 100 input bytes each, four refreshes of 10
    _log(tmp_path / "arm-0000", [(0, 1.0, 0, 100), (1, 3.0, 1, 100)])
    _log(tmp_path / "arm-0001", [(2 + i, 5.0 + i, 2 + i, 10) for i in range(4)])
    windows = [("engine.backfill", 0.5, 1.5), ("engine.backfill", 2.5, 3.5)]
    windows += [("engine.refresh", 4.5 + i, 5.5 + i) for i in range(4)]
    c, first = spark_counters(tmp_path, windows, cores=2,
                              reps={"engine.backfill": 2,
                                    "engine.refresh": 4})
    assert c["spark.input_bytes"] == 100 + 10
    assert c["spark.jobs"] == c["spark.stages"] == c["spark.tasks"] == 2
    assert c["spark.busy_ratio"] == pytest.approx(6 / (2 * 6))
    assert first == {i: t for i, t in enumerate((1.0, 3.0, 5, 6, 7, 8))}
