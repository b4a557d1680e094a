"""Registry-wide physical-plan lint: scan EVERY declared query's plan
for scale antipatterns.  The spot assertions in
tests/test_plan_shapes.py defend ~50 named plans; this tool sweeps all
of them so a regression in an unwatched query still surfaces.

Checks (each a named rule):

- cartesian        CartesianProduct anywhere (allowlisted: queries whose
                   docstring claims a deliberate bounded cross score)
- bnl-join         BroadcastNestedLoopJoin against a non-trivial side
                   (allowlisted the same way — theta joins against
                   1-row/threshold relations are fine)
- global-window    WindowExec with an empty partition spec over a
                   non-aggregated input (the single-partition funnel);
                   detected as 'Window [...]' without 'partitionBy' in
                   the formatted plan section following an Exchange
                   SinglePartition
- python-row-udf   BatchEvalPython (row-at-a-time Python) — always wrong
                   here; Arrow paths show ArrowEvalPython / FlatMap*
                   instead

Usage: python tools/plan_lint.py [sf_dir] [name ...]
Exit 1 if any non-allowlisted hit is found.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iot_simulator_datalake_spark.queries import REGISTRY  # noqa: E402
from iot_simulator_datalake_spark.session import get_spark  # noqa: E402

#: queries whose docstrings justify a bounded cross/NL join (brute-force
#: verifier baselines, 1-row scalar broadcasts, tiny grids) — each cites
#: its own bound in-code; the lint trusts but lists them.
CROSS_ALLOW = {
    "similarity_topk_bruteforce",   # explicit O(P×C) verifier baseline
    "threshold_theta_join",         # thresholds relation is 4 rows
    "asof_threshold_join",          # same threshold relation
    "interval_overlap_join",        # oracle-side naive twin only
    "ann_recall_eval",              # brute-force ground truth inside
    "embedding_neardup_pairs",      # blocked; block sizes bounded
    "maxsim_late_interaction",      # query set × doc tokens, Q bounded
    "maxsim_rerank_lsh",            # same Q bound; corpus side already
                                    # bucket-pruned before the cross
    "maxsim_rerank_recall_eval",    # composes the two queries above —
                                    # both probe crosses carry their
                                    # own cited Q bounds
    "mmr_diverse_rerank",           # k×k re-rank, k bounded
    "hybrid_search_rrf",            # ANN branch composes
                                    # similarity_topk_bruteforce with a
                                    # 1-ROW probe (vec_id=0): the BNL
                                    # build side is that single vector,
                                    # so the join is a linear map-side
                                    # corpus scan.  Surfaced only when
                                    # the bnl rule became subtree-
                                    # scoped — the old plan-wide
                                    # "Keys: []" check was masked by
                                    # the BM25 branch's unrelated
                                    # global aggregate
    "weighted_sample_topk",         # 1-row total broadcast (was listed
                                    # under its pre-rename name
                                    # stats_weighted_sample — stale
                                    # entries now test-guarded)
    "string_similarity_levenshtein",  # blocked pair relation
    "random_walk_corpus",           # crossJoin with Range(per_node=10)
    "similarity_topk_ivf",          # probes × nlist centroid table
    "similarity_topk_ivfpq",        # same shape: corpus × 8-row
                                    # broadcast centroid table for the
                                    # coarse assignment (constant-width
                                    # map-side expansion, the ivf_assign
                                    # move); everything downstream is
                                    # equi-joined on (cluster) and
                                    # (probe_id, blk, cid)
    "similarity_topk_ivfpq_residual",  # same 8-row centroid broadcast
                                    # (shared _ivf_assign8 helper)
    "ivfpq_residual_recall_eval",   # composes the residual query +
                                    # the within-cell exact baseline —
                                    # both crosses are the 8-row
                                    # centroid assignment
    "skipgram_pairs",               # composes random_walk_corpus
    "hard_negative_mining",         # bounded probe set × bucketed corpus
    "ab_ttest_welch",               # 1-row segA stats × 1-row segB stats
    "segment_overlap_kmv",          # pair-gen over the distinct-segment
                                    # relation: segments²·K bound cited
    "monthly_active_users_hll",     # day-range theta join of the
                                    # CALENDAR-sized day-sketch relation
                                    # with itself (≤30 sketch rows per
                                    # window end, never event-
                                    # proportional) — the independent
                                    # second plan its window_merge_
                                    # consistent claim compares against
    "grant_effective_matrix",       # literal control-plane dims:
                                    # principals × 3 schemas × 3 privs,
                                    # bounded by the grant script —
                                    # never data-proportional
                                    # in queries_stats.py docstring
}

#: Python row paths that exist BY DESIGN (the UDTF API-correctness
#: gate); everything else must be Arrow-batched or JVM builtins.
PYTHON_ALLOW = {"udtf_doc_chunker"}

#: queries whose single-partition window runs over a PRE-REDUCED bounded
#: relation (the correct pattern for "rank a small summary"); each cites
#: its bound.  An unpartitioned window over anything dimension- or
#: row-proportional must NOT be added here — migrate it to
#: operators/prefix.py ranged_prefix/global_ntile instead (as
#: abc_pareto/gini/ntile/rfm/zipf/vocab_coverage/quantile_normalize
#: were).
GLOBAL_WINDOW_ALLOW = {
    "ks_drift_detect",          # quantized value grid ≤ range×1000 cells
    "moving_avg_7d",            # day-calendar pre-aggregate (~2.5k rows)
    "rolling_corr_30d",         # day-calendar pre-aggregate
    "kaplan_meier_churn",       # duration-day grid (calendar-bounded)
    "monthly_active_users_hll",  # per-day sketch relation, KB sketches
    "hll_envelope_mau",         # same per-day sketch relation (its
                                # envelope eval twin)
    "revenue_share_of_total",   # nation-grouped aggregate: 25 rows
    "curriculum_order",         # per-value length histogram: |distinct
                                # n_chars| rows (value-range bounded)
    "length_quantile_filter",   # cumsum over the distinct-token-count
                                # histogram: |distinct n_toks| rows
                                # (doc-length bounded)
}

#: streaming / engine-run queries execute side effects at build time and
#: return small batch results — their final plan is not the interesting
#: one, and building them is expensive; the streaming twins are gated by
#: their own batch-equivalence oracles instead.
SKIP_PREFIX = ("streaming_", "engine_", "simulator_streaming",
               "incremental_rollup_equals", "incremental_join_rollup_equals",
               "incremental_bigram_lm_equals",  # state-building MV gates —
               # NOT a blanket "incremental_" (incremental_dedup_batch is a
               # plain batch plan and must stay in the sweep)
               "apply_changes", "snapshot_changes")


def plan_text(df) -> str:
    """Formatted physical plan of a DataFrame — the ONE capture idiom
    shared by the lint, `bench.py --plans`, and the lint self-tests."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_of(spark, name: str, sf_dir: str) -> str:
    return plan_text(REGISTRY[name].fn(spark, sf_dir))


import re

_NODE_RE = re.compile(r"^([+:\-\s|]*)(\*(?:\(\d+\))?\s+)?(.+?)\s*\((\d+)\)\s*$")


def parse_tree(plan: str) -> list[tuple[int, str, int]]:
    """Parse EVERY tree section of a formatted plan — the main
    ``== Physical Plan ==`` block AND each ``Subquery:N Hosting ...``
    block — into ``[(depth, node_name, node_id), ...]`` in pre-order.
    Depth derives from the indentation markers (3 chars per level); the
    codegen ``*(n)`` prefix is stripped from names.  Subquery trees
    append sequentially; their roots restart at depth 0, which
    naturally terminates any walk that runs off the previous tree."""
    out = []
    in_tree = False
    for ln in plan.splitlines():
        if (ln.startswith("== Physical Plan ==")
                or re.match(r"Subquery(:|\s)", ln)):
            in_tree = True
            continue
        if in_tree:
            if not ln.strip():
                in_tree = False
                continue
            m = _NODE_RE.match(ln)
            if not m:
                continue
            depth = len(m.group(1)) // 3
            out.append((depth, m.group(3).strip(), int(m.group(4))))
    return out


def parse_details(plan: str) -> dict[int, str]:
    """Map node id → its detail block ("(n) Name\\n..." section)."""
    det: dict[int, str] = {}
    cur = None
    for ln in plan.splitlines():
        m = re.match(r"^\((\d+)\) \S", ln)
        if m:
            cur = int(m.group(1))
            det[cur] = ln
        elif cur is not None:
            if not ln.strip():
                cur = None
            else:
                det[cur] += "\n" + ln
    return det


def _subtree(tree, i):
    """Nodes of the subtree rooted at tree[i] (pre-order slice)."""
    d = tree[i][0]
    j = i + 1
    while j < len(tree) and tree[j][0] > d:
        j += 1
    return tree[i:j]


#: structurally-unary plan nodes a scalar-aggregate broadcast may pass
#: through on its way to the exchange — anything else between the
#: exchange and the aggregate (a join, generate, union, scan …) means
#: the build side is NOT provably one row.  EXACT names (a prefix
#: match would swallow SortMergeJoin under "Sort").
_BNL_PASSTHROUGH = {"BroadcastExchange", "Exchange", "AQEShuffleRead",
                    "Project", "Filter", "Sort", "Coalesce",
                    "WholeStageCodegen", "InputAdapter", "ColumnarToRow"}


def _scalar_agg_build(tree, details, id_idx, sub) -> bool:
    """True iff the broadcast subtree ``sub`` is a PROVABLY-1-row
    relation, by structural induction: a keyless aggregate
    (``Keys: []``) is 1 row whatever sits below it; a unary
    pass-through node is 1 row iff its child is; a join is ≤1 row iff
    EVERY child side is (the scalar ⨯ scalar shape, e.g.
    join_size_estimate's nd_a × nd_b); a ReusedExchange is 1 row iff
    the ORIGINAL operator it references is.  Anything else — a scan, a
    generate, a join with any non-scalar side — is not provable, so an
    aggregate merely SOMEWHERE inside a bigger build relation (dim ⨯
    scalar) does not qualify: that was the masking hole the
    any()-over-subtree version left open."""
    if not sub:
        return False
    head = sub[0][1].split(" ")[0]
    if "Aggregate" in head:
        return "Keys: []" in details.get(sub[0][2], "")
    if head == "ReusedExchange":     # leaf in THIS subtree: resolve it
        mref = re.search(r"Reuses operator id:\s*(\d+)",
                         details.get(sub[0][2], ""))
        return bool(mref) and int(mref.group(1)) in id_idx and \
            _scalar_agg_build(tree, details, id_idx,
                              _subtree(tree, id_idx[int(mref.group(1))]))
    kids = [k for k in range(1, len(sub)) if sub[k][0] == sub[0][0] + 1]
    if "Join" in head or head == "CartesianProduct":
        return bool(kids) and all(
            _scalar_agg_build(tree, details, id_idx, _subtree(sub, k))
            for k in kids)
    if head in _BNL_PASSTHROUGH:
        return len(kids) == 1 and _scalar_agg_build(
            tree, details, id_idx, _subtree(sub, kids[0]))
    return False


def _unjustified_bnl(plan: str) -> bool:
    """True iff some BroadcastNestedLoopJoin's BUILD side is not a
    provably-1-row relation (a keyless aggregate).

    Tree-positional successor of the old plan-wide ``"Keys: []" in
    plan`` exemption, which a real NL join could hide behind whenever
    ANY unrelated global aggregate appeared in the same plan (scalar
    subquery, normalization constant …) — the same masking class the
    global-window rule's text-adjacency bug had.  Here the walk finds
    each BNL node's broadcast child (resolving ReusedExchange to the
    original operator) and demands the keyless aggregate at that
    subtree's ROOT — through unary pass-through nodes only (see
    _scalar_agg_build; an aggregate merely somewhere inside a bigger
    build relation does not count); anything else must earn a
    CROSS_ALLOW entry with a cited bound."""
    tree = parse_tree(plan)
    details = parse_details(plan)
    id_idx = {nid: k for k, (_, _, nid) in enumerate(tree)}
    for i, (d, nm, _nid) in enumerate(tree):
        if not nm.startswith("BroadcastNestedLoopJoin"):
            continue
        justified = False
        j = i + 1
        while j < len(tree) and tree[j][0] > d:
            if tree[j][0] == d + 1:
                knm = tree[j][1].split(" ")[0]
                if knm in ("BroadcastExchange", "ReusedExchange"):
                    sub = _subtree(tree, j)
                    if knm == "ReusedExchange":
                        mref = re.search(r"Reuses operator id:\s*(\d+)",
                                         details.get(tree[j][2], ""))
                        if mref and int(mref.group(1)) in id_idx:
                            sub = _subtree(tree, id_idx[int(mref.group(1))])
                    justified = _scalar_agg_build(tree, details,
                                                  id_idx, sub)
                    break
            j += 1
        if not justified:
            return True
    return False


def _global_windows(plan: str) -> bool:
    """True iff some Window node's input partitioning is a
    single-partition Exchange over a NON-pre-reduced relation.

    Walks the parsed plan tree: from each Window node, descend the
    unary child chain to the nearest Exchange.  SinglePartition there
    means the whole input is funneled to one task — the scale killer —
    UNLESS the chain first passes a keyless aggregate ("Keys: []"),
    whose output is one row by construction.  Joins/unions/scans end
    the walk (their output partitioning is not a single-partition
    funnel).  Tree-positional, so unrelated Exchange SinglePartition
    nodes elsewhere in the plan (TakeOrderedAndProject, global aggs)
    can no longer mask — or falsely trigger — the rule the way the old
    6-line text-adjacency heuristic could."""
    tree = parse_tree(plan)
    details = parse_details(plan)
    for i, (d, nm, _nid) in enumerate(tree):
        if nm != "Window":
            continue
        want = d + 1
        for dd, cnm, cid in tree[i + 1:]:
            if dd != want:
                break                        # left the unary chain
            detail = details.get(cid, "")
            if cnm.split(" ")[0] in ("Exchange", "ReusedExchange"):
                if cnm.startswith("ReusedExchange"):
                    # resolve to the original exchange's detail — a
                    # deduped SinglePartition funnel must still flag
                    mref = re.search(r"Reuses operator id:\s*(\d+)",
                                     detail)
                    detail = (details.get(int(mref.group(1)), "")
                              if mref else "")
                if "SinglePartition" in detail:
                    return True
                break                        # hash/range exchange: fine
            if "Aggregate" in cnm and "Keys: []" in detail:
                break                        # 1-row global-agg input
            if ("Join" in cnm or "Union" in cnm or "Cartesian" in cnm
                    or cnm.startswith(("Scan", "LocalTableScan", "Range",
                                       "InMemoryTableScan", "Reused"))):
                break                        # not a single-part funnel
            want = dd + 1                    # unary op: keep descending
    return False


def lint(name: str, plan: str) -> list[str]:
    hits = []
    if "CartesianProduct" in plan and name not in CROSS_ALLOW:
        hits.append("cartesian")
    if ("BroadcastNestedLoopJoin" in plan and name not in CROSS_ALLOW
            and _unjustified_bnl(plan)):
        # a keyless aggregate on the BUILD SIDE marks a 1-row scalar
        # (global-aggregate) broadcast — the intended shape for
        # normalization constants; anything else is a real NL join.
        # The check is subtree-scoped (see _unjustified_bnl) so an
        # unrelated global aggregate elsewhere in the plan cannot mask
        # a genuine NL join the way the old plan-wide substring did.
        hits.append("bnl-join")
    if "BatchEvalPython" in plan and name not in PYTHON_ALLOW:
        hits.append("python-row-udf")
    if name not in GLOBAL_WINDOW_ALLOW and _global_windows(plan):
        hits.append("global-window")
    return hits


def main(argv: list[str]) -> int:
    sf_dir = "/root/testdata/sf0.001"
    if argv and "/" in argv[0]:
        sf_dir, argv = argv[0], argv[1:]
    names = argv or [n for n in sorted(REGISTRY)
                     if not n.startswith(SKIP_PREFIX)]
    spark = get_spark("plan_lint")
    bad = {}
    for n in names:
        try:
            hits = lint(n, plan_of(spark, n, sf_dir))
        except Exception as e:     # build failures are their own signal
            hits = [f"build-error: {str(e)[:80]}"]
        if hits:
            bad[n] = hits
            print(f"  LINT {n}: {', '.join(hits)}")
    print(f"{len(names) - len(bad)}/{len(names)} plans clean"
          + (f"; {len(bad)} flagged" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
