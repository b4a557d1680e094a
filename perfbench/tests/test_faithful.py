"""The timed action keeps every output expression of the query's own
optimized plan; ``count()`` does not."""

from __future__ import annotations

import pytest

from perfbench import gen
from perfbench.faithful import (count_plan, execution_count, executed_plan,
                                missing_outputs)
from perfbench.workloads import noop

HEADLINE = ("fact_avg_by_nation_month", "normalized_in_filter",
            "hourly_rollup", "customer_scorecard", "threshold_theta_join",
            "cdc_latest_wins", "sessionization", "window_running_total",
            "tpch_q1_pricing_summary", "tpch_q5_local_volume",
            "tpch_q6_forecast_revenue", "text_quality_score",
            "gopher_quality_rules", "quality_classifier_score",
            "dedup_minhash_lsh_capped", "fuzzy_dedup_report_capped",
            "similarity_topk_bruteforce", "bm25_topk", "bm25_from_postings",
            "hybrid_search_rrf")


@pytest.fixture(scope="module")
def data(tmp_path_factory):
    d = tmp_path_factory.mktemp("faithful")
    gen.write_tables(d, 3, 0.001)
    gen.write_corpus(d, 3, 300)
    return str(d)


def test_headline_set_is_the_registry_bench_set():
    from iot_simulator_datalake_spark.queries import REGISTRY
    assert set(HEADLINE) == {n for n, q in REGISTRY.items() if q.bench}


@pytest.mark.parametrize("name", HEADLINE)
def test_noop_sink_runs_every_output_expression(spark, data, name):
    from iot_simulator_datalake_spark.queries import REGISTRY
    df = REGISTRY[name].fn(spark, data)
    before = execution_count(spark)
    noop(df)
    assert missing_outputs(df, executed_plan(spark, before)) == []


@pytest.mark.parametrize("name", ("text_quality_score",
                                  "window_running_total"))
def test_count_plan_is_caught(spark, data, name):
    from iot_simulator_datalake_spark.queries import REGISTRY
    df = REGISTRY[name].fn(spark, data)
    assert missing_outputs(df, count_plan(df))
