"""Invariant tests for the LLM corpus-prep queries (queries_llmprep.py).

The DuckDB oracle gate certifies cross-engine value equality; these
tests assert the *semantic* invariants the oracles can't state —
conservation (packing loses no token), bounds (int8 range, quantile
coverage), and determinism.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_simulator_datalake_spark.functions.text import tokens
from iot_simulator_datalake_spark.queries import REGISTRY, load
from iot_simulator_datalake_spark.queries_llmprep import _PACK, _SHUF

SF = "/root/testdata/sf0.001"


def test_seq_packing_conserves_tokens_and_fills_blocks(spark):
    out = REGISTRY["seq_packing"].fn(spark, SF).cache()
    docs = (load(spark, SF, "documents")
            .select(F.size(tokens(F.col("text"))).alias("n"))
            .where("n > 0"))
    total_tokens = docs.agg(F.sum("n")).first()[0]

    # conservation: every token appears in exactly one piece
    piece_tokens = (out.select(F.size(F.filter(
        F.split("piece", r"\s+"), lambda x: x != "")).alias("k"))
        .agg(F.sum("k")).first()[0])
    assert piece_tokens == total_tokens

    # every sequence except the last per shard holds exactly `block`
    seq = (out.withColumn("k", F.size(F.filter(
               F.split("piece", r"\s+"), lambda x: x != "")))
           .groupBy("shard", "seq_id").agg(F.sum("k").alias("k")))
    last = seq.groupBy("shard").agg(F.max("seq_id").alias("last_seq"))
    full = seq.join(last, "shard").where("seq_id < last_seq")
    bad = full.where(F.col("k") != _PACK["block"]).count()
    assert bad == 0

    # a doc split across blocks re-assembles in tok_off order
    joined = (out.groupBy("doc_id")
              .agg(F.array_join(F.array_sort(F.collect_list(
                  F.struct("tok_off", "piece"))).piece, " ").alias("re"))
              )
    orig = (load(spark, SF, "documents")
            .select("doc_id", F.array_join(tokens(F.col("text")), " ")
                    .alias("txt"))
            .where(F.length("txt") > 0))
    mism = joined.join(orig, "doc_id").where("re <> txt").count()
    assert mism == 0
    out.unpersist()


def test_corpus_shuffle_is_a_permutation(spark):
    out = REGISTRY["corpus_shard_shuffle"].fn(spark, SF).cache()
    n_docs = load(spark, SF, "documents").count()
    assert out.count() == n_docs
    # pos is 1..count(shard) within every shard, no gaps or dupes
    per = (out.groupBy("shard")
           .agg(F.count("*").alias("c"), F.min("pos").alias("lo"),
                F.max("pos").alias("hi"),
                F.count_distinct("pos").alias("d")))
    bad = per.where("lo <> 1 or hi <> c or d <> c").count()
    assert bad == 0
    assert out.select("shard").distinct().count() <= _SHUF["shards"]
    out.unpersist()


def test_quantize_int8_bounds_and_roundtrip(spark):
    out = REGISTRY["embedding_quantize_int8"].fn(spark, SF)
    q = out.select(
        "vec_id", "scale",
        F.transform(F.split("qvec", ","),
                    lambda x: x.cast("int")).alias("q"))
    # range bound: |q_i| <= 127
    over = q.select(F.array_max(F.transform(
        "q", lambda x: F.abs(x))).alias("m")).where("m > 127").count()
    assert over == 0
    # roundtrip bound: |x - q*scale| <= scale/2 per element
    e = load(spark, SF, "embeddings")
    j = (q.join(e, "vec_id")
         .select("scale", F.zip_with(
             "embedding", "q",
             lambda x, qi: F.abs(x.cast("double") - qi * F.col("scale"))
         ).alias("err"))
         .select(F.array_max("err").alias("m"), "scale")
         .where(F.col("m") > F.col("scale") / 2 + 1e-12))
    assert j.count() == 0


def test_length_quantile_filter_coverage(spark):
    kept = REGISTRY["length_quantile_filter"].fn(spark, SF)
    docs = load(spark, SF, "documents").count()
    frac = kept.count() / docs
    # p05..p95 keeps ~90%; integer ties widen it somewhat
    assert 0.80 <= frac <= 0.99


def test_contamination_detects_planted_dup(spark, tmp_path):
    """Plant an eval doc's text into a train doc → the pair must be
    reported with a high shared-shingle count."""
    import shutil
    src = f"{SF}/documents.parquet"
    d = spark.read.parquet(src)
    bkt = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                  16, 10).cast("long") % 100)
    d = d.withColumn("bkt", bkt)
    ev = d.where("bkt >= 90").orderBy("doc_id").first()
    tr = d.where("bkt < 80").orderBy("doc_id").first()
    planted = d.drop("bkt").withColumn(
        "text", F.when(F.col("doc_id") == tr.doc_id,
                       F.lit(ev.text)).otherwise(F.col("text")))
    sfdir = tmp_path / "sfplant"
    sfdir.mkdir()
    planted.write.parquet(str(sfdir / "documents.parquet"))
    for t in ("region",):  # load() only touches documents here
        pass
    out = REGISTRY["contamination_ngram"].fn(spark, str(sfdir))
    hit = out.where((F.col("train_doc_id") == tr.doc_id)
                    & (F.col("eval_doc_id") == ev.doc_id)).first()
    assert hit is not None and hit.n_shared >= 1
    shutil.rmtree(str(sfdir), ignore_errors=True)


def test_corpus_pipeline_dag_contract(spark, tmp_path):
    """The corpus DAG materializes, its checks pass, and the packed
    gold table conserves every silver token."""
    from iot_simulator_datalake_spark.engine import Engine
    from iot_simulator_datalake_spark.pipeline.corpus_models import (
        CORPUS, attach_corpus_checks, build_corpus_registry)

    eng = Engine(spark, build_corpus_registry(),
                 config={"documents_path": f"{SF}/documents.parquet"},
                 warehouse=tmp_path / "wh")
    attach_corpus_checks(eng)
    res = eng.run()
    assert set(res.materialized) >= {
        "bronze.documents", "silver.documents", "gold.corpus_splits",
        "gold.packed_sequences"}
    assert all(r.passed for r in eng.test())

    silver = eng.table("silver.documents")
    packed = eng.table("gold.packed_sequences")
    total = silver.agg(F.sum("n_toks")).first()[0]
    packed_total = (packed.select(F.size(F.filter(
        F.split("piece", r"\s+"), lambda x: x != "")).alias("k"))
        .agg(F.sum("k")).first()[0])
    assert packed_total == total
    # dedup kept the lowest doc_id per duplicate group → doc_ids unique
    assert silver.count() == silver.select("doc_id").distinct().count()
    # every silver doc got a split
    assert eng.table("gold.corpus_splits").count() == silver.count()
    # partitioned gold sink: one dir per shard
    import os
    parts = [d for d in os.listdir(eng.table_path(
        eng.registry["gold.packed_sequences"])) if d.startswith("shard=")]
    assert len(parts) <= CORPUS["shards"] and parts


def test_boilerplate_removal_empty_and_all_removed_docs(spark, tmp_path):
    """Cross-engine edge parity: a zero-token doc emits NO chunk rows
    (Spark's sequence(1,0) is the descending [1,0] — unguarded it
    yields two phantom '' chunks where DuckDB's generate_series(1,0)
    yields none), and a doc whose every chunk is boilerplate-removed
    reports clean_md5 NULL (DuckDB's all-NULL string_agg), not
    md5('')."""
    import duckdb
    src = spark.read.parquet(f"{SF}/documents.parquet")
    base = src.limit(5).withColumn(
        "text", F.concat(F.lit("unique prefix "),
                         F.col("doc_id").cast("string"), F.lit(" "),
                         F.col("text")))
    # 1 empty doc + 3 byte-identical one-chunk docs (df=3 > max_df)
    extra = spark.createDataFrame(
        [(900001, "", "srcX"), (900002, "dup dup dup", "srcX"),
         (900003, "dup dup dup", "srcX"), (900004, "dup dup dup", "srcX")],
        "doc_id long, text string, source string")
    cols = [c for c in base.columns]
    planted = base.unionByName(
        extra.select(*[c if c in ("doc_id", "text", "source")
                       else F.lit(None).alias(c) for c in cols]),
        allowMissingColumns=True)
    sfdir = tmp_path / "sfbp"
    sfdir.mkdir()
    planted.write.parquet(str(sfdir / "documents.parquet"))
    qd = REGISTRY["boilerplate_chunk_removal"]
    rows = {r["doc_id"]: r for r in qd.fn(spark, str(sfdir)).collect()}
    assert 900001 not in rows                       # empty doc absent
    assert rows[900002]["clean_md5"] is None        # all chunks removed
    assert rows[900002]["n_removed"] == rows[900002]["n_chunks"]
    # and the full DuckDB oracle agrees row-for-row
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sfdir}/documents.parquet/*.parquet'")
    oracle = {r[0]: r for r in con.execute(qd.oracle).fetchall()}
    assert set(oracle) == set(rows)
    for k, r in rows.items():
        assert (r["n_chunks"], r["n_removed"], r["clean_md5"]) == \
            (oracle[k][1], oracle[k][2], oracle[k][3]), k


def _table_models(reg):
    return [m for m in reg if m.materialization == "table"
            and m.snapshot_keep is None and not m.bucket_by]


@pytest.mark.parametrize("which", ["iot", "curation", "corpus"])
def test_table_read_back_schema_matches_inference(spark, tmp_path,
                                                  iot_landing, which):
    """The engine reads a table's version dir back with the schema it
    just wrote; that must be the schema footer inference would give
    (session confs such as inferTimestampNTZ=false included)."""
    from iot_simulator_datalake_spark.engine import Engine
    from iot_simulator_datalake_spark.pipeline import build_registry
    from iot_simulator_datalake_spark.pipeline.corpus_models import (
        build_corpus_registry)
    from iot_simulator_datalake_spark.pipeline.curation_models import (
        build_curation_registry)

    docs = {"documents_path": f"{SF}/documents.parquet"}
    reg, cfg = {
        "iot": (build_registry(streaming=False),
                {"iot_events_path": str(iot_landing[0])}),
        "curation": (build_curation_registry(), docs),
        "corpus": (build_corpus_registry(), docs),
    }[which]
    e = Engine(spark, reg, config=cfg, warehouse=tmp_path / "wh")
    e.run()
    models = _table_models(reg)
    assert models
    for m in models:
        vdir = e.table_path(m).resolve()
        assert e.table(m.qualified_name).schema == \
            spark.read.parquet(str(vdir)).schema, m.qualified_name
