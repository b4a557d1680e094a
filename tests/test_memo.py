"""Construction memos (the package docstring states their contract):
a second build of a query misses no memo and runs no job, and the
memoized Columns stay valid on a session rebuilt in the same process."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

from iot_simulator_datalake_spark import queries, queries_curation
from iot_simulator_datalake_spark import queries_retrieval
from iot_simulator_datalake_spark.functions import vector
from iot_simulator_datalake_spark.operators import dedup
from iot_simulator_datalake_spark.queries import REGISTRY

REPO = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, REPO)

from __spark_entry__ import SMOKE_SF_DIR as SF  # noqa: E402

MEMOS = (queries._parquet_schema, dedup._shingle_expr, dedup._sig_exprs,
         dedup._band_key_col, vector.l2_norm_named,
         vector.cosine_micro_named, vector.scored_units_named,
         queries_curation._gopher_exprs, queries_retrieval._bm25_index_meta)

QUERIES = ("gopher_quality_rules", "dedup_minhash_lsh_capped",
           "similarity_topk_bruteforce", "bm25_from_postings")


def _info() -> tuple[int, int]:
    infos = [f.cache_info() for f in MEMOS]
    return sum(i.hits for i in infos), sum(i.misses for i in infos)


@pytest.mark.parametrize("name", QUERIES)
def test_second_build_adds_no_cache_miss(spark, name):
    REGISTRY[name].fn(spark, SF)
    hits, misses = _info()
    REGISTRY[name].fn(spark, SF)
    hits2, misses2 = _info()
    assert misses2 == misses
    assert hits2 > hits          # the build does go through the memos


@pytest.mark.parametrize("name", ("gopher_quality_rules",
                                  "bm25_from_postings"))
def test_second_build_runs_no_job(spark, name):
    """No footer-inference or index-stats job once the keys are seen."""
    REGISTRY[name].fn(spark, SF)
    sc = spark.sparkContext
    sc.setJobGroup("memo-second-build", "memo-second-build")
    try:
        REGISTRY[name].fn(spark, SF)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert sc.statusTracker().getJobIdsForGroup("memo-second-build") == []


def test_memos_survive_session_rebuild():
    """Build and run the four queries, stop the session, get a new one
    and do it again: the memoized Columns and metadata still work.  Runs
    in a subprocess so the suite's shared session survives."""
    prog = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "from iot_simulator_datalake_spark.queries import REGISTRY\n"
        "from iot_simulator_datalake_spark.session import get_spark\n"
        "for rnd in range(2):\n"
        "    spark = get_spark('memo-rebuild')\n"
        f"    for n in {QUERIES!r}:\n"
        f"        df = REGISTRY[n].fn(spark, {SF!r})\n"
        "        df.write.format('noop').mode('overwrite').save()\n"
        "    spark.stop()\n"
        "print('rebuilt-ok')\n")
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", prog], capture_output=True,
                         text=True, env=env, timeout=900)
    assert out.returncode == 0, out.stderr[-4000:]
    assert "rebuilt-ok" in out.stdout
