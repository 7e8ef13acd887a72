"""Format-dispatching extraction: one Arrow stage for a mixed corpus.

A crawled corpus is heterogeneous — HTML pages and PDFs arrive
interleaved in the same table — and the 100 TB-honest way to handle
that is NOT two filtered scans (the ``giant_threshold`` tradeoff in
``operators.extraction`` shows what a second scan costs): it is ONE
scan feeding ONE ``mapInArrow`` stage that sniffs each payload's magic
bytes and dispatches per document to the right per-doc pipeline —
``extract.pipeline.extract_document`` for HTML,
``extract.pdflayout.parse_pdf`` for PDF.  Zero shuffles, no scan
duplication, and both formats land in the SAME interleaved span model,
so downstream dedup/quality/sink operators never know the difference.

Unknown binary formats become ``success=false`` rows with
``format='unknown'`` (the failure-row contract, reference
extractor.py:434-455).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .extraction import SPAN_TYPE, pa_span_list

MIXED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("word_count", T.IntegerType()),
        T.StructField("n_spans", T.IntegerType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("success", T.BooleanType()),
        T.StructField("error", T.StringType()),
    ]
)


def _pa_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("doc_id", pa.int64()),
            ("format", pa.string()),
            ("title", pa.string()),
            ("word_count", pa.int32()),
            ("n_spans", pa.int32()),
            ("spans", pa_span_list()),
            ("success", pa.bool_()),
            ("error", pa.string()),
        ]
    )


def sniff_format(payload: bytes) -> str:
    """Magic-byte container sniff (content, not extension — the
    reference filters by URL extension, discovery.py:815-863, which a
    mislabeled payload defeats)."""
    if payload.startswith(b"%PDF-"):
        return "pdf"
    head = payload[:256].lstrip()
    if head[:1] == b"<" or b"<html" in head.lower():
        return "html"
    return "unknown"


def _dispatch_batches(min_word_count: int):
    def fn(batches):
        import pyarrow as pa

        from ..extract.pdflayout import parse_pdf
        from ..extract.pipeline import ExtractOptions, extract_document
        from .pdf import pdf_article_row

        opts = ExtractOptions(min_word_count=min_word_count)
        schema = _pa_schema()
        for batch in batches:
            doc_ids = batch.column("doc_id").to_pylist()
            urls = batch.column("url").to_pylist()
            payloads = batch.column("payload").to_pylist()
            cols = {n: [] for n in schema.names if n != "doc_id"}

            def emit(fmt, title, wc, spans, success, error):
                cols["format"].append(fmt)
                cols["title"].append(title)
                cols["word_count"].append(wc)
                cols["n_spans"].append(len(spans))
                cols["spans"].append(spans)
                cols["success"].append(success)
                cols["error"].append(error)

            for url, payload in zip(urls, payloads):
                p = bytes(payload or b"")
                fmt = sniff_format(p)
                if fmt == "pdf":
                    row = pdf_article_row(parse_pdf(p))
                    emit(
                        "pdf",
                        row["title"],
                        row["word_count"],
                        row["spans"],
                        row["success"],
                        row["error"],
                    )
                elif fmt == "html":
                    r = extract_document(
                        p.decode("utf-8", errors="replace"),
                        url=url or "",
                        options=opts,
                    )
                    emit(
                        "html",
                        r["title"],
                        r["word_count"],
                        r["spans"],
                        r["success"],
                        r["error"],
                    )
                else:
                    emit(
                        "unknown", None, 0, [], False,
                        "unrecognized container magic",
                    )
            arrays = [pa.array(doc_ids, pa.int64())] + [
                pa.array(cols[f.name], f.type)
                for f in schema
                if f.name != "doc_id"
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=schema)

    return fn


def _mixed_corpus_batches(batches):
    import pyarrow as pa

    from ..extract.pdflayout import build_article_pdf
    from ..sources.synth import synth_page_html

    for batch in batches:
        doc_ids = batch.column("doc_id").to_pylist()
        texts = batch.column("text").to_pylist()
        payloads = []
        urls = []
        for d, t in zip(doc_ids, texts):
            urls.append(f"https://synth.example/docs/{d}")
            if d % 2 == 0:
                payloads.append(
                    build_article_pdf(d, t or "", compress=(d % 4 == 0))
                )
            else:
                payloads.append(
                    synth_page_html(str(d), t or "").encode("utf-8")
                )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(doc_ids, pa.int64()),
                pa.array(urls, pa.string()),
                pa.array(payloads, pa.binary()),
            ],
            names=["doc_id", "url", "payload"],
        )


def documents_as_mixed(docs: DataFrame) -> DataFrame:
    """Adapter for tests/benchmarks: a heterogeneous binary corpus —
    even doc_ids become real PDFs (every 4th FlateDecode-compressed),
    odd doc_ids the synthetic HTML page — in one payload column, so
    the dispatch operator's sniff-and-route is exercised on every
    batch."""
    from ..shipping import ensure_shipped
    from .parallelism import ensure_compute_parallelism

    ensure_shipped(docs.sparkSession)
    pruned = docs.select(F.col("doc_id").cast("long"), F.col("text"))
    return ensure_compute_parallelism(pruned).mapInArrow(
        _mixed_corpus_batches,
        schema="doc_id long, url string, payload binary",
    )


def extract_documents_auto(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    url_col: str = "url",
    payload_col: str = "payload",
    min_word_count: int = 150,
) -> DataFrame:
    """Extract a mixed HTML/PDF corpus with per-row format dispatch.

    One pruned scan → one Arrow stage; per-document sniff + the right
    extractor; shared span-model output."""
    from ..shipping import ensure_shipped
    from .parallelism import ensure_compute_parallelism

    ensure_shipped(df.sparkSession)
    pruned = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(url_col).cast("string").alias("url"),
        F.col(payload_col).cast("binary").alias("payload"),
    )
    return ensure_compute_parallelism(pruned).mapInArrow(
        _dispatch_batches(min_word_count), schema=MIXED_SCHEMA
    )
