"""banking_etl_pipeline_spark — a PySpark-native analytics/ETL engine.

A brand-new engine with the query and data-processing capabilities of the
reference `quangdvn/banking-etl-pipeline` (see SURVEY.md), re-expressed
Spark-first: declarative DataFrame/SQL plans optimized by Catalyst, columnar
parquet IO, single-pass data-quality aggregates, window metrics, and — beyond
reference parity — large-scale training-data-pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing).

Layout:
    session.py     SparkSession factory (env-parameterized, AQE on)
    catalog.py     test-table catalog over /root/testdata/sf*/
    pipeline.py    config-driven pipeline orchestration: extract → transform
                   → quality gate → load (reference §2.8)
    domain/        banking entity schemas, seeding and transforms
    sources/       csv and jdbc readers and the format-scan queries
                   (reference §2.1)
    sinks/         csv writer, merge upsert and the stage → audit → publish
                   batch commit (partitioned parquet, parquet warehouse)
    operators/     relational core, windows, quality, dedup, similarity, text
    functions/     scalar/vector column-expression helpers
    plans/         physical-plan introspection (plan_of, pushed_filters)
    streaming/     Structured Streaming variants of the window metrics
    registry.py    query-key → (spark builder, duckdb oracle SQL)
"""

__version__ = "0.1.0"
