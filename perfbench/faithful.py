"""Plan-faithfulness guard.

A timed action must execute the plan production runs.  ``count()`` does
not: Catalyst prunes every projection, window and aggregate expression
whose value nobody reads, so the timing describes a cheaper plan.  The
guard names every output attribute (``name#exprId``) of the query's own
optimized plan and asserts each one appears in the plan the action ran.
"""

from __future__ import annotations

import re
import time


def output_refs(df) -> list[str]:
    """``name#id`` of every output attribute of the optimized plan."""
    out = df._jdf.queryExecution().optimizedPlan().output()
    attrs = [out.apply(i) for i in range(out.size())]
    return [f"{a.name()}#{a.exprId().id()}" for a in attrs]


def missing_outputs(df, plan_text: str) -> list[str]:
    """Output attributes of ``df`` that ``plan_text`` never mentions."""
    return [r for r in output_refs(df)
            if not re.search(re.escape(r) + r"L?\b", plan_text)]


def execution_count(spark) -> int:
    return spark._jsparkSession.sharedState().statusStore() \
        .executionsList().size()


def executed_plan(spark, before: int, timeout: float = 10.0) -> str:
    """Physical plan description of the newest SQL execution started
    after ``before`` executions had been recorded (the listener that
    records them runs asynchronously, so poll briefly)."""
    store = spark._jsparkSession.sharedState().statusStore()
    deadline = time.monotonic() + timeout
    while True:
        execs = store.executionsList()
        if execs.size() > before:
            ex = execs.apply(execs.size() - 1)
            if ex.completionTime().isDefined():
                return ex.physicalPlanDescription()
        if time.monotonic() > deadline:
            raise TimeoutError("no completed SQL execution recorded")
        time.sleep(0.05)


def count_plan(df) -> str:
    """The optimized plan ``df.count()`` would run."""
    return df.groupBy().count()._jdf.queryExecution().optimizedPlan() \
        .toString()
