"""Distributed PDF extraction: one vectorized Arrow stage per corpus.

The per-document work (``extract.pdflayout.parse_pdf``) is pure Python;
this module gives it the same Spark shape as the HTML extraction
operator (``operators.extraction``): prune to exactly (id, payload)
before the Arrow exchange, run ONE ``mapInArrow`` stage — zero
shuffles, embarrassingly parallel over documents — and emit the shared
interleaved span model, so PDFs and HTML land in the same downstream
tables.  Malformed bytes become ``success=false`` rows, never task
deaths (the reference's failure-row contract, extractor.py:434-455,
applied to a format the reference itself only skips —
discovery.py:825).

At 100 TB the binary payload column dominates IO exactly as in
``functions.multimodal``; ReadSchema pruning keeps every other column
out of the scan, and the giant-tail strategy from ``extract_articles``
(fine-grained input partitions; salted re-shuffle when a multi-MB tail
is clustered) applies unchanged because the stage shape is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .extraction import SPAN_TYPE, pa_span_list

PDF_ARTICLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("title", T.StringType()),
        T.StructField("word_count", T.IntegerType()),
        T.StructField("n_spans", T.IntegerType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("success", T.BooleanType()),
        T.StructField("error", T.StringType()),
    ]
)


def pdf_article_row(r: dict) -> dict:
    """Assemble the span-model fields from a ``parse_pdf`` result —
    shared by the PDF-only operator and the mixed-format dispatcher so
    span conversion / title / word-count logic cannot drift between
    them: ``title`` is the first text span in reading order,
    ``word_count`` counts whitespace tokens over all text spans."""
    spans = [
        {"kind": k, "text": t, "media_ref": m, "offset": o}
        for k, t, m, o in r["spans"]
    ]
    texts = [s["text"] for s in spans if s["kind"] == "text"]
    return {
        "title": texts[0] if texts else None,
        "word_count": len(" ".join(texts).split()),
        "n_spans": len(spans),
        "spans": spans,
        "success": r["ok"],
        "error": r["error"],
    }


def _pa_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("doc_id", pa.int64()),
            ("n_pages", pa.int32()),
            ("title", pa.string()),
            ("word_count", pa.int32()),
            ("n_spans", pa.int32()),
            ("spans", pa_span_list()),
            ("success", pa.bool_()),
            ("error", pa.string()),
        ]
    )


def _extract_batches(batches):
    import pyarrow as pa

    from ..extract.pdflayout import parse_pdf

    schema = _pa_schema()
    for batch in batches:
        doc_ids = batch.column("doc_id").to_pylist()
        payloads = batch.column("payload").to_pylist()
        cols = {name: [] for name in schema.names if name != "doc_id"}
        for payload in payloads:
            r = parse_pdf(bytes(payload or b""))
            row = pdf_article_row(r)
            cols["n_pages"].append(r["n_pages"])
            for k in (
                "title", "word_count", "n_spans", "spans", "success",
                "error",
            ):
                cols[k].append(row[k])
        arrays = [pa.array(doc_ids, pa.int64())] + [
            pa.array(cols[f.name], f.type) for f in schema if f.name != "doc_id"
        ]
        yield pa.RecordBatch.from_arrays(arrays, schema=schema)


def extract_pdf_articles(
    df: DataFrame, *, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Parse a corpus of PDF payloads into interleaved span rows.

    Input needs (id, binary payload); everything else is pruned before
    the Arrow exchange.  ``title`` is the first text span in reading
    order (for the synthetic corpus, the actual title block — the
    layout sort puts it first even though the content stream emits it
    third), ``word_count`` counts whitespace tokens over all text
    spans.
    """
    from ..shipping import ensure_shipped
    from .parallelism import ensure_compute_parallelism

    ensure_shipped(df.sparkSession)
    pruned = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(payload_col).cast("binary").alias("payload"),
    )
    return ensure_compute_parallelism(pruned).mapInArrow(
        _extract_batches, schema=PDF_ARTICLE_SCHEMA
    )


def _pdf_corpus_batches(batches):
    import pyarrow as pa

    from ..extract.pdflayout import build_article_pdf

    for batch in batches:
        doc_ids = batch.column("doc_id").to_pylist()
        texts = batch.column("text").to_pylist()
        payloads = [
            # every 3rd document FlateDecode-compressed so the bench
            # and oracle exercise both stream paths
            build_article_pdf(d, t or "", compress=(d % 3 == 0))
            for d, t in zip(doc_ids, texts)
        ]
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(doc_ids, pa.int64()),
                pa.array(payloads, pa.binary()),
            ],
            names=["doc_id", "payload"],
        )


def documents_as_pdf(docs: DataFrame) -> DataFrame:
    """Adapter for tests/benchmarks: render each document as a real
    one-page PDF (title/body/image/footer, content stream deliberately
    out of reading order; every 3rd doc FlateDecode-compressed).  The
    expected parse output is analytically derivable from the text, so
    the extractor has an exact SQL oracle."""
    from ..shipping import ensure_shipped
    from .parallelism import ensure_compute_parallelism

    ensure_shipped(docs.sparkSession)
    pruned = docs.select(F.col("doc_id").cast("long"), F.col("text"))
    return ensure_compute_parallelism(pruned).mapInArrow(
        _pdf_corpus_batches,
        schema="doc_id long, payload binary",
    )
