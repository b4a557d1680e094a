"""Skewed-replica probes (VERDICT r10 #3): measure the engine's skew
machinery on a replica whose key distribution is actually skewed,
instead of the uniform replica where every key is equally hot.

Prereq: ``python tools/replica.py 100 /root/testdata/sf0.1
/tmp/x100skew --zipf`` (heavy-hitter key ladder; see tools/replica.py
docstring — the hottest single orderkey/custkey/user owns ~19% of all
rows at ×100, ~6× a flat 32-partition share).

Probes (each prints one labeled line; results land in SCALE.md):

1. ``profile``  — top-1-key share and key counts for the three zipf
   columns, proving the replica is skewed (190 000 ppm measured vs
   the uniform replica's flat line).
2. ``agg``      — events groupBy(user_id) aggregate, plain vs
   operators/skew.py salted_agg, walls side by side: the plain
   form's hottest reducer owns ~19% of the stage.
3. ``join``     — lineitem⋈orders sort-merge join on the zipf-hot
   l_orderkey (broadcast disabled to force the shuffle), AQE skew
   split ON vs OFF × two downstream shapes (global agg, where the
   cost model allows the split on its own; year-rollup, where the
   downstream exchange makes it veto and only force pushes it
   through), walls + whether OptimizeSkewedJoin marked the join
   (``skew=true`` in the executed plan).

Usage: python tools/probe_skew.py [dir] [probe ...]
       (defaults: /tmp/x100skew, all probes)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


from iot_simulator_datalake_spark.queries import load  # noqa: E402
from iot_simulator_datalake_spark.session import get_spark  # noqa: E402


def _wall(fn) -> float:
    t0 = time.monotonic()
    fn()
    return round(time.monotonic() - t0, 2)


def probe_profile(spark, d):
    for tbl, col in (("lineitem", "l_orderkey"),
                     ("orders", "o_custkey"),
                     ("events", "user_id")):
        k = load(spark, d, tbl).groupBy(col).count()
        row = k.agg(F.count("*").alias("n_keys"),
                    F.sum("count").alias("total"),
                    F.max("count").alias("top1")).collect()[0]
        ppm = row.top1 * 1_000_000 // row.total
        print(f"profile {tbl}.{col}: n_keys={row.n_keys} "
              f"total={row.total} top1={row.top1} "
              f"top1_share_ppm={ppm}", flush=True)


def probe_agg(spark, d):
    from iot_simulator_datalake_spark.operators.skew import salted_agg
    e = load(spark, d, "events").select("user_id", "value")
    plain = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
    salted = salted_agg(
        e, ["user_id"],
        partials={"n": F.count(F.lit(1)), "sv": F.sum("value")},
        combines={"n": F.sum(F.col("n")), "sv": F.sum(F.col("sv"))},
        salts=32)
    for tag, df in (("plain", plain), ("salted", salted)):
        w = _wall(df.count)
        print(f"agg {tag}: {w}s", flush=True)


def probe_join(spark, d):
    li = load(spark, d, "lineitem").select("l_orderkey",
                                           "l_extendedprice")
    od = load(spark, d, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate")
    # Same local-replica stand-in contract as aqe_skew_join_split
    # (queries_lake.py): skew detection runs on COMPRESSED map-output
    # sizes, and the hot partition's 11.4 M rows are one REPEATED key
    # + doubles, which lz4 crushes to ~10-30 MB where production's
    # GB-scale hot partitions clear the 256 MB default easily — so
    # the thresholds scale down with the replica (measured: 32MB
    # threshold missed it, 8MB catches it); factor 2.0 because 32
    # flat partitions of a ×100 table sit closer to the hot one than
    # production's thousands; forceOptimizeSkewedJoin because the
    # downstream year-rollup adds the extra shuffle the cost model
    # would otherwise veto.
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "8MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4MB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved = {k: spark.conf.get(k) for k in
             list(confs) + ["spark.sql.adaptive.skewJoin.enabled"]}
    def build(variant):
        j = li.join(od, "l_orderkey")
        if variant == "globalagg":
            # no downstream hash exchange → the cost model lets the
            # split through on its own; this is the shape where the
            # hot reducer is the stage straggler and the split wins
            # wall-clock even on one host
            return j.agg(F.count(F.lit(1)).alias("n"),
                         F.sum("l_extendedprice").alias("rev"))
        # year-rollup adds a hash exchange after the join → the
        # shuffle-counting cost model vetoes the split; force pushes
        # it through so the vetoed shape is measured too (observed:
        # the split still wins warm — the veto is a heuristic about
        # shuffle count, not a measurement)
        return (j.groupBy(F.year("o_orderdate").alias("y"))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("l_extendedprice").alias("rev")))

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        for variant in ("globalagg", "rollup"):
            spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin",
                           "true" if variant == "rollup" else "false")
            for skew_on in (True, False):
                spark.conf.set("spark.sql.adaptive.skewJoin.enabled",
                               str(skew_on).lower())
                build(variant).collect()          # warm-up (JIT, listing)
                agg = build(variant)
                # collect() on the SAME frame: the plan assertion must
                # read the executed AQE final plan (a full_mat wrapper
                # builds a NEW plan, leaving this one
                # isFinalPlan=false); outputs are a handful of rows,
                # and the join feeding the agg cannot be pruned by it
                w = _wall(agg.collect)
                marked = "skew=true" in (agg._jdf.queryExecution()
                                         .executedPlan().toString())
                print(f"join {variant} "
                      f"skewJoin={'on' if skew_on else 'off'}: {w}s "
                      f"plan_marked_skew={marked}", flush=True)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def main(argv: list[str]) -> int:
    d = argv[0] if argv else "/tmp/x100skew"
    probes = argv[1:] or ["profile", "agg", "join"]
    spark = get_spark("probe-skew")
    for p in probes:
        globals()[f"probe_{p}"](spark, d)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
