"""Self-tests for tools/plan_lint.py's rule engine — the lint is a
round-close gate, so its rules get their own regression tests: the
global-window rule must FIRE on a synthetic unbounded plan (the old
text-adjacency heuristic never did — "Exchange SinglePartition" is two
lines in formatted output, so the substring never matched) and must
stay quiet on the legitimate shapes (keyless-aggregate input,
partitioned windows, the two-level prefix operator)."""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import Window as W
from pyspark.sql import functions as F

TOOLS = str(Path(__file__).resolve().parent.parent / "tools")
sys.path.insert(0, TOOLS)

from plan_lint import lint, parse_tree, plan_text as _plan  # noqa: E402

SF = "/root/testdata/sf0.001"


def _orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


def test_global_window_fires_on_unbounded_plan(spark):
    # row_number over the raw table with no partition spec: the exact
    # single-partition funnel the rule exists for
    bad = _orders(spark).withColumn(
        "r", F.row_number().over(W.orderBy("o_orderkey")))
    assert "global-window" in lint("synthetic_bad", _plan(bad))


def test_global_window_quiet_on_keyless_agg_input(spark):
    # window over a 1-row global aggregate: bounded by construction
    one = _orders(spark).agg(F.sum("o_totalprice").alias("t"))
    ben = one.withColumn("r", F.row_number().over(W.orderBy("t")))
    assert lint("synthetic_agg", _plan(ben)) == []


def test_global_window_quiet_on_partitioned_window(spark):
    part = _orders(spark).withColumn(
        "r", F.row_number().over(
            W.partitionBy("o_custkey").orderBy("o_orderkey")))
    assert lint("synthetic_part", _plan(part)) == []


def test_global_window_fires_on_grouped_then_global(spark):
    # grouped agg (keys non-empty) then a global window over it: the
    # walk reaches Exchange SinglePartition through the Sort and must
    # still flag — the input is key-cardinality-sized, which only an
    # explicit allowlist entry may bless
    g = (_orders(spark).groupBy("o_custkey")
         .agg(F.count("*").alias("n"))
         .withColumn("r", F.row_number().over(W.orderBy("n", "o_custkey"))))
    assert "global-window" in lint("synthetic_grouped", _plan(g))


def test_ranged_prefix_plans_clean(spark):
    # the two-level prefix operator must not trip any rule: its
    # windows are _pid-partitioned and its offsets are literals
    from iot_simulator_datalake_spark.operators.prefix import (
        global_ntile, ranged_prefix)
    o = _orders(spark).select("o_orderkey", "o_totalprice")
    ranked, _ = ranged_prefix(
        o, [F.col("o_totalprice"), F.col("o_orderkey")],
        sums={"cum": "o_orderkey"}, rank_col="rn", buckets=8)
    assert lint("prefix_op", _plan(ranked)) == []
    nt = global_ntile(o, [F.col("o_totalprice"), F.col("o_orderkey")],
                      4, "tile", buckets=8)
    assert lint("ntile_op", _plan(nt)) == []


_REUSED_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- BroadcastHashJoin Inner BuildRight (8)
   :- Window (4)
   :  +- Sort (3)
   :     +- Exchange (2)
   :        +- Scan parquet  (1)
   +- BroadcastExchange (7)
      +- Window (6)
         +- ReusedExchange (5)

(2) Exchange
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=20]

(5) ReusedExchange [Reuses operator id: 2]
Output [1]: [x#1]
"""

_SUBQ_PLAN = """== Physical Plan ==
Project (3)
+- Scan parquet  (1)

(1) Scan parquet
Output [1]: [x#1]

===== Subqueries =====

Subquery:1 Hosting operator id = 3 Hosting Expression = Subquery subquery#17
AdaptiveSparkPlan (8)
+- Window (7)
   +- Sort (6)
      +- Exchange (5)
         +- Scan parquet  (4)

(5) Exchange
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=54]
"""


def test_global_window_resolves_reused_exchange():
    # a deduped SinglePartition exchange behind ReusedExchange must
    # still flag (the walker resolves 'Reuses operator id')
    assert "global-window" in lint("synthetic_reused", _REUSED_PLAN)


def test_global_window_reaches_subquery_trees():
    # parse_tree must not stop at the main tree's blank line: a
    # whole-relation window inside a subquery plan is the same funnel
    assert "global-window" in lint("synthetic_subq", _SUBQ_PLAN)


def test_bnl_quiet_on_scalar_broadcast(spark):
    # theta join against a 1-row global aggregate: the canonical
    # normalization-constant shape — build side is a keyless agg,
    # so the BNL is justified and the rule stays quiet
    one = _orders(spark).agg(F.avg("o_totalprice").alias("t"))
    ok = _orders(spark).join(one, F.col("o_totalprice") > F.col("t"))
    assert "bnl-join" not in lint("synthetic_scalar_bnl", _plan(ok))


def test_bnl_fires_despite_unrelated_global_agg(spark):
    # the masking case the old plan-wide '"Keys: []" in plan' check got
    # wrong: a genuine NL join (orders theta nation — build side is a
    # table scan) plus an UNRELATED 1-row aggregate broadcast in the
    # same plan.  The subtree-scoped rule must still flag the first
    # join; the old substring exemption passed the whole plan.
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    tot = _orders(spark).agg(F.avg("o_totalprice").alias("t"))
    bad = (_orders(spark)
           .join(nation, F.col("o_custkey") > F.col("n_nationkey"))
           .crossJoin(F.broadcast(tot)))
    assert "bnl-join" in lint("synthetic_masked_bnl", _plan(bad))


def test_python_row_udf_rule_still_fires(spark):
    from pyspark.sql.types import LongType
    plus = F.udf(lambda x: x + 1, LongType())
    bad = _orders(spark).select(plus(F.col("o_orderkey")).alias("k"))
    assert "python-row-udf" in lint("synthetic_udf", _plan(bad))


def test_parse_tree_shapes(spark):
    # the walker's foundation: depths and ids parse out of a real plan
    df = _orders(spark).withColumn(
        "r", F.row_number().over(W.orderBy("o_orderkey")))
    tree = parse_tree(_plan(df))
    names = [n for _, n, _ in tree]
    assert "Window" in names and any(n.startswith("Exchange")
                                     or n == "Exchange" for n in names)
    depths = [d for d, _, _ in tree]
    assert depths[0] == 0 and max(depths) >= 2


def test_ranged_prefix_empty_input(spark):
    # empty relation: no bucket totals, offsets default to 0, no rows
    # out — the operator must not divide by zero or emit a bad plan
    from iot_simulator_datalake_spark.operators.prefix import (
        global_ntile, ranged_prefix)
    from pyspark.sql import functions as F
    empty = (spark.createDataFrame([(1, 2.0)], ["id", "v"])
             .filter(F.lit(False)))
    out, totals = ranged_prefix(empty, [F.col("v"), F.col("id")],
                                sums={"cum": "v"}, rank_col="rn",
                                buckets=4)
    assert out.collect() == [] and totals == {"n": 0, "cum": 0}
    nt = global_ntile(empty, [F.col("v"), F.col("id")], 3, "t", buckets=4)
    assert nt.collect() == []


def test_registry_docstrings_are_real(spark):
    # regression guard for the '"""...""".format(...)' trap: a string
    # literal followed by .format() is a discarded expression, leaving
    # __doc__ = None — every registered query must carry a real,
    # fully-interpolated docstring (no {placeholders} left behind)
    import re
    from iot_simulator_datalake_spark.queries import REGISTRY
    bad = [n for n, qd in REGISTRY.items()
           if not (qd.fn.__doc__ or "").strip()]
    assert bad == [], f"queries with empty __doc__: {bad}"
    unfilled = [n for n, qd in REGISTRY.items()
                if re.search(r"\{\w+\}", qd.fn.__doc__ or "")]
    assert unfilled == [], f"uninterpolated placeholders: {unfilled}"


def test_lint_allowlists_reference_real_queries(spark):
    # stale allowlist entries mask nothing today but rot the lint's
    # audit trail; every allowlisted name must be a registered query
    from plan_lint import CROSS_ALLOW, GLOBAL_WINDOW_ALLOW, PYTHON_ALLOW
    from iot_simulator_datalake_spark.queries import REGISTRY
    for allow in (CROSS_ALLOW, GLOBAL_WINDOW_ALLOW, PYTHON_ALLOW):
        stale = sorted(allow - set(REGISTRY))
        assert stale == [], f"allowlist entries with no query: {stale}"


def test_bnl_fires_on_agg_nested_inside_bigger_build(spark):
    """The one-level-deeper masking case: the BNL's own build side is a
    data-proportional relation (nation ⨯ scalar) that merely CONTAINS
    a keyless aggregate.  The root-of-subtree rule must still flag it;
    the old any()-over-subtree scan passed it."""
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    tot = _orders(spark).agg(F.avg("o_totalprice").alias("t"))
    build = nation.crossJoin(F.broadcast(tot))     # contains Keys: []
    bad = _orders(spark).join(
        build, F.col("o_totalprice") > F.col("t"))  # theta vs BUILD
    assert "bnl-join" in lint("synthetic_nested_agg_bnl", _plan(bad))


def test_bnl_quiet_on_scalar_cross_scalar_build(spark):
    """A build side that is a CROSS of two keyless aggregates is still
    provably one row (join_size_estimate's shape) — the recursive rule
    must accept it."""
    a = _orders(spark).agg(F.avg("o_totalprice").alias("t"))
    b = _orders(spark).agg(F.count("*").alias("n"))
    one2 = F.broadcast(a.crossJoin(b))
    ok = _orders(spark).join(one2, F.col("o_totalprice") > F.col("t"))
    assert "bnl-join" not in lint("synthetic_scalar2_bnl", _plan(ok))


def test_bnl_quiet_on_sortmerge_of_scalars_build(spark):
    """SortMergeJoin must hit the JOIN branch of the 1-row proof, not
    be swallowed by a 'Sort' prefix match into the unary pass-through
    branch: two keyless aggregates equi-joined under
    autoBroadcastJoinThreshold=-1 plan as an SMJ, and that 1-row build
    must stay accepted."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # join keys must be computed (a literal key constant-folds the
        # join into a CartesianProduct)
        a = _orders(spark).agg(F.avg("o_totalprice").alias("t"),
                               F.min("o_orderkey").alias("k"))
        b = _orders(spark).agg(F.count("*").alias("n"),
                               F.min("o_orderkey").alias("k"))
        one = a.join(b, "k")
        plan_one = _plan(one)
        assert "SortMergeJoin" in plan_one, plan_one.splitlines()[:8]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    # broadcast the SMJ-of-scalars as a BNL build side (back at the
    # default threshold the scalar side still BNLs the theta join)
    ok = _orders(spark).join(F.broadcast(one),
                             F.col("o_totalprice") > F.col("t"))
    assert "bnl-join" not in lint("synthetic_smj_scalar_bnl", _plan(ok))
