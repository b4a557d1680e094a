"""iot_simulator_datalake_spark — a PySpark-native data-lake analytics engine.

A from-scratch rebuild of the capabilities of the reference project
``fahad-m-nasim/iot_simulator_datalake`` (a dbt + Databricks Asset Bundle
medallion IoT data lake — see /root/reference, read-only), re-expressed
Spark-first:

- ``engine``     — the model/DAG framework (dbt-semantics: models, layered
                   config, materializations, data-quality checks) on plain
                   PySpark.  Replaces dbt-core + Databricks control plane.
- ``pipeline``   — the ported medallion pipeline (bronze → silver → gold
                   star schema), reference models cited per-file.
- ``sources``    — batch + streaming sources (JSON landing dir with
                   infer-once schema persistence — the OSS Auto Loader
                   substitute; CDC/Debezium-style parsing).
- ``operators``  — relational + LLM-data-pipeline operators: dedup
                   (exact / window / MinHash-LSH / SimHash / n-gram
                   Jaccard), similarity search (cosine top-k, LSH ANN),
                   SCD1, time rollups, threshold (theta) joins, as-of join.
- ``functions``  — scalar/column function library: text analysis
                   (language-ID, quality score, tokenization,
                   fingerprinting) and vector math, all built on
                   ``pyspark.sql.functions`` (JVM-side, codegen-friendly).
- ``streaming``  — Structured Streaming orchestration (checkpointed
                   triggered runs, streaming tables).
- ``multimodal`` — binary-column (image/audio/video payload) plumbing with
                   Arrow-batched Pandas-UDF transforms.

Design stance (SURVEY.md §7.0): DataFrame API only, no RDDs, no Python
row-at-a-time UDFs in any hot path; Catalyst/AQE do the physical planning.
Everything is designed for a multi-executor cluster at ~100 TB even though
tests run on local[*]: explicit broadcasts for small dims, partition-count
discipline, map-side-combinable aggregations, LSH banding instead of
cross joins.

Construction memos: query construction is driver latency (every
``F.*`` call is a py4j round-trip, every bare ``spark.read.parquet`` a
footer-inference job), so the values a build recomputes identically
are memoized per process with ``functools.cache``, each behind a small
function keyed only on what determines it: a Column expression on its
parameters and column names, a table's schema on its parquet path, the
BM25 index metadata on its content-addressed root.  A memoized Column
is an unresolved, alias-free expression tree (callers alias, so each
plan gets fresh exprIds) and metadata is of immutable inputs; neither
is data or a result.  Entries live for the process: PySpark keeps one
py4j gateway per process, so they stay valid across ``spark.stop()``
and a rebuilt session (tests/test_memo.py).
"""

__version__ = "0.1.0"
