"""article_extractor_spark — a PySpark-native main-content extraction engine.

A from-scratch, Spark-first re-expression of the capabilities of
pankaj28843/article-extractor (readability-style main-content extraction):
the per-document semantics (DOM scoring, cleaning, sanitization, title
cascade) live in pure-Python modules executed inside vectorized Arrow
`mapInArrow` stages, while all corpus-level dataflow (scan, dedup,
filtering, aggregation, lineage, resume) is declarative DataFrame/SQL so
Catalyst can optimize it.

Layout:
    dom/        stdlib-html.parser DOM kernel (parse, query, serialize)
    extract/    extraction pipeline semantics (scoring, sanitize, spans)
    operators/  Spark operators: extraction stage, PDF, format dispatch, tables
    sources/    table IO (bucketed Parquet, Iceberg-ready) + synthetic corpus
    functions/  reusable pyspark Column helpers (text, dedup, similarity)
    sinks/      Markdown files per document
    streaming/  AvailableNow streams whose micro-batches are batch-job epochs
    job.py      the extraction job (bucketed, lineage-committed, resumable)
    pipeline.py extraction → curation funnel → shuffled packing, per wave
    queries.py  named query registry with DuckDB oracles (used by
                __spark_entry__ and bench); no package module imports it
"""

__version__ = "0.1.0"

from .shipping import guard_zipimport_invalidation

# reused Spark Python workers import the package while deserializing
# their first task's command; every later task then skips re-reading
# pyspark.zip & co. (a no-op in the driver and on CPython >= 3.13)
guard_zipimport_invalidation()
