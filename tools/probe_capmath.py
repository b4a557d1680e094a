"""Cap-math probe for the capped dedup production forms (VERDICT r9
#4): confirm the documented worst-case bound — candidate pairs ≤
surviving buckets × C(cap, 2) — against OBSERVED band-bucket and
candidate counts on the ×100 / ×1000 replicas.

For each variant it rebuilds exactly the banding relation the
operator builds (same helpers, same parameters as the registry
queries) and reports, per scale dir:

- ``n_docs``        input docs (for fuzzy: exact-tier survivors too)
- ``n_buckets``     distinct band keys
- ``dropped``       buckets with > cap members (excluded pre-join)
- ``kept``          buckets that enter the self-join
- ``sum_pairs``     Σ over kept buckets of B·(B−1)/2 — the exact
                    ordered-candidate bound the join can emit
- ``cap_bound``     kept × cap·(cap−1)/2 — the documented worst case
- ``cand_pairs``    observed distinct candidate pairs
- ``wall_s``        wall of the observed-candidate count

Invariant checked (and printed): cand_pairs ≤ sum_pairs ≤ cap_bound.

Usage:
  python tools/probe_capmath.py /tmp/x100 /tmp/x1000
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from iot_simulator_datalake_spark.operators.dedup import (  # noqa: E402
    _band_key_col, _sigs_from_exploded)
from iot_simulator_datalake_spark.functions.text import (  # noqa: E402
    ngrams, tokens)
from iot_simulator_datalake_spark.queries import load  # noqa: E402
from iot_simulator_datalake_spark.queries_ext import (  # noqa: E402
    _MINHASH, _MINHASH_CAP)
from iot_simulator_datalake_spark.session import get_spark  # noqa: E402


def _band_rel(docs, key_col="doc_id", text_col="text"):
    nh, bands, sh = (_MINHASH["n_hashes"], _MINHASH["bands"],
                     _MINHASH["shingle_n"])
    ex = docs.select(
        F.col(key_col).alias("key"),
        F.explode(ngrams(tokens(F.col(text_col)), sh)).alias("s"))
    sigs = _sigs_from_exploded(ex, nh)
    return sigs.select(
        "key", F.explode(_band_key_col(nh, bands)).alias("band"))


def probe(spark, sf_dir: str, variant: str) -> dict:
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()
    n_surv = None
    if variant == "fuzzy_survivors":
        # the tiered pipeline's exact tier: min doc_id per md5(text)
        surv = (docs.groupBy(F.md5("text").alias("h"))
                .agg(F.min("doc_id").alias("doc_id"))
                .join(docs, "doc_id")
                .select("doc_id", "text"))
        n_surv = surv.count()
        docs = surv
    slim = _band_rel(docs).cache()
    cap = _MINHASH_CAP
    sizes = slim.groupBy("band").agg(F.count(F.lit(1)).alias("b"))
    agg = sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.when(F.col("b") > cap, 1).otherwise(0)).alias("dropped"),
        F.sum(F.when(F.col("b") <= cap,
                     F.col("b") * (F.col("b") - 1) / 2)
              .otherwise(0)).cast("bigint").alias("sum_pairs"),
    ).collect()[0].asDict()
    kept = agg["n_buckets"] - agg["dropped"]
    capped = (slim.join(sizes, "band")
              .filter(F.col("b") <= cap).drop("b"))
    t0 = time.monotonic()
    cand = (capped.alias("a")
            .join(capped.alias("b"),
                  (F.col("a.band") == F.col("b.band")) &
                  (F.col("a.key") < F.col("b.key")))
            .select(F.col("a.key").alias("key_a"),
                    F.col("b.key").alias("key_b"))
            .distinct().count())
    wall = round(time.monotonic() - t0, 1)
    slim.unpersist()
    out = {"variant": variant, "dir": sf_dir, "n_docs": n_docs,
           "n_buckets": agg["n_buckets"], "dropped": agg["dropped"],
           "kept": kept, "sum_pairs": int(agg["sum_pairs"]),
           "cap_bound": kept * cap * (cap - 1) // 2,
           "cand_pairs": cand, "wall_s": wall,
           "bound_holds": cand <= int(agg["sum_pairs"])
           <= kept * cap * (cap - 1) // 2}
    if n_surv is not None:
        out["exact_survivors"] = n_surv
    return out


def main(argv: list[str]) -> int:
    dirs = argv or ["/tmp/x100"]
    spark = get_spark("probe-capmath")
    for d in dirs:
        for variant in ("headline", "fuzzy_survivors"):
            print(json.dumps(probe(spark, d, variant)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
