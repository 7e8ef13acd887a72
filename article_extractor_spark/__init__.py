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
    operators/  Spark operators: extraction stage, dedup, similarity, text stats
    sources/    table IO (bucketed Parquet, Iceberg-ready) + synthetic corpus
    functions/  reusable pyspark Column helpers (URL/text functions)
    plans/      named query registry (used by __spark_entry__ and bench)
    streaming/  AvailableNow streams whose micro-batches are batch-job epochs
"""

__version__ = "0.1.0"

from .shipping import guard_zipimport_invalidation

# reused Spark Python workers import the package while deserializing
# their first task's command; every later task then skips re-reading
# pyspark.zip & co. (a no-op in the driver and on CPython >= 3.13)
guard_zipimport_invalidation()
