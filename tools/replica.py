"""Build a ×N replica of a testdata SF dir with key-shifted copies —
the dataset behind SCALE.md's replica probes.

Usage: python tools/replica.py [N] [src_dir] [out_dir] [--zipf]
       (defaults: 10 /root/testdata/sf0.1 /tmp/x10)

Key columns shift by copy index so cardinalities scale realistically
(10× users / orders / docs), while dimension-like columns (partkey,
event_type, text) repeat — which also makes the replica a worst-case
duplicate corpus for the dedup family (see SCALE.md's minhash note).

``--zipf`` (VERDICT r10 #3): the uniform replica never exercises KEY
SKEW — every shifted key appears exactly once per copy, so reduce
partitions hash flat.  Zipf mode makes the fact-side hot columns
(ZIPF_COLS: ``lineitem.l_orderkey``, ``orders.o_custkey``,
``events.user_id``) genuinely partition-skewed: copies 0..n/2 keep
the uniform per-copy shift (full realistic key variety, half the
rows), while copies n/2..n COLLAPSE the key to a single heavy hitter
``min(col) + b·K`` where ``b = floor(log2(copy − n/2 + 1))`` — a
geometric ladder of ~log2(n/2) single keys whose shares double
(1%, 2%, 4%, 8%, 16%, ~19% of ALL rows at ×100).  The hottest single
key owns ~19% of the table, i.e. ~6× a flat 32-partition share —
exactly the hot-reducer regime AQE skew-split and operators/skew.py
salting exist for.  Deterministic (no RNG), and JOIN MULTIPLICITY IS
PRESERVED: the heavy hitters are built from ``min(col)`` (present on
the unique side by referential integrity) plus the b·K shifts of
copies b ≤ 6, so every hot fact row still resolves to exactly ONE
dimension row.  A first design shifted WHOLE COPIES onto bucketed
key classes — measured top-1 share was 59 ppm (thousands of equally-
hot keys hash flat); heavy hitters must collapse the base-key
variety too, which is what this ladder does.  The DuckDB oracle
reads the same files, so every gated query stays value-comparable on
the skewed replica.
"""

from __future__ import annotations

import shutil
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from iot_simulator_datalake_spark.queries import load  # noqa: E402
from iot_simulator_datalake_spark.session import get_spark  # noqa: E402

SHIFTS = {
    "lineitem": {"l_orderkey": 10**9},
    "orders": {"o_orderkey": 10**9, "o_custkey": 10**7},
    "events": {"event_id": 10**9, "user_id": 10**7},
    "documents": {"doc_id": 10**7},
    "customer": {"c_custkey": 10**7},
    # embeddings share the documents id space (doc↔vector pairing), so
    # they shift by the same constant — otherwise every retrieval probe
    # over the replica would measure an SF-invariant vector corpus
    "embeddings": {"vec_id": 10**7},
}
COPY_AS_IS = ("region", "nation", "supplier", "part")

#: fact-side columns that get the power-law bucketed shift under
#: --zipf (module docstring); their unique-key join partners stay
#: uniform so join multiplicity is preserved
ZIPF_COLS = {("lineitem", "l_orderkey"), ("orders", "o_custkey"),
             ("events", "user_id")}


def main(argv: list[str]) -> int:
    zipf = "--zipf" in argv
    argv = [a for a in argv if a != "--zipf"]
    n = int(argv[0]) if argv else 10
    src = argv[1] if len(argv) > 1 else "/root/testdata/sf0.1"
    out = argv[2] if len(argv) > 2 else "/tmp/x10"
    spark = get_spark("replica")
    shutil.rmtree(out, ignore_errors=True)
    for t, sh in SHIFTS.items():
        df = load(spark, src, t)
        # one broadcast range cross-join instead of an n-way union:
        # identical rows, but the plan stays one node — at ×1000 the
        # unrolled union overwhelmed Catalyst/driver plan processing.
        # Repartition the SMALL source BEFORE the join: repartitioning
        # the joined output shuffles the full ×n dataset (measured:
        # 44 GB of shuffle blocks before the first parquet byte at
        # ×1000); pre-splitting the source costs one tiny shuffle and
        # each writer task streams (src/n_parts)·n rows straight to
        # parquet.
        copies = F.broadcast(
            spark.range(n).select(F.col("id").alias("_copy")))
        n_parts = max(8, min(256, n // 4))
        d = df.repartition(n_parts).crossJoin(copies)
        for c, k in sh.items():
            if zipf and (t, c) in ZIPF_COLS:
                base_min = df.agg(F.min(c)).first()[0]
                half = max(1, n // 2)
                ladder = F.floor(
                    F.log2(F.col("_copy") - half + F.lit(1))) \
                    .cast("long")
                d = d.withColumn(
                    c,
                    F.when(F.col("_copy") < half,
                           F.col(c) + F.col("_copy") * F.lit(k))
                    .otherwise(F.lit(base_min) + ladder * F.lit(k)))
            else:
                d = d.withColumn(c, F.col(c)
                                 + F.col("_copy") * F.lit(k))
        (d.drop("_copy")
         .write.mode("overwrite").parquet(f"{out}/{t}.parquet"))
        print(f"{t}: x{n} written")
    for t in COPY_AS_IS:
        load(spark, src, t).write.mode("overwrite") \
            .parquet(f"{out}/{t}.parquet")
    print(f"replica ready at {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
