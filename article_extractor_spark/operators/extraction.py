"""The extraction operator: one vectorized Arrow stage over a corpus.

The whole per-document pipeline (SURVEY.md §2.1 E1-E29) runs inside a
single ``mapInArrow`` batch function — no shuffle is needed for
extraction itself, and no per-row Python ever touches the driver-side
plan.  Catalyst prunes the scan to exactly the consumed columns; AQE and
the bucketed layout handle distribution (SURVEY.md §4).

Equivalent reference call sites: extractor.py:268-386 (the per-doc
chain) and server.py:124-127 (its thread-pool acknowledgment that
extraction is CPU-bound — here Spark's task scheduler does that job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]
    )
)


def pa_span_list():
    """Arrow type of ``SPAN_TYPE``, the interleaved span model every
    operator that emits spans through Arrow shares (this module,
    ``operators.pdf`` and ``operators.dispatch``)."""
    import pyarrow as pa

    return pa.list_(
        pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("offset", pa.int32()),
            ]
        )
    )


ARTICLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("title", T.StringType()),
        # reference ArticleResult metadata (types.py:28-30) — declared
        # there and never populated; schema parity, nullable strings
        T.StructField("author", T.StringType()),
        T.StructField("date_published", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("word_count", T.IntegerType()),
        T.StructField("excerpt", T.StringType()),
        T.StructField("success", T.BooleanType()),
        T.StructField("error", T.StringType()),
        T.StructField("warnings", T.ArrayType(T.StringType())),
        # rendered outputs (reference extractor.py:344-346); empty
        # unless emit_html / emit_markdown is set — giant strings only
        # cross the Arrow boundary when a sink actually wants them
        T.StructField("content_html", T.StringType()),
        T.StructField("markdown", T.StringType()),
        T.StructField("nodes_scored", T.IntegerType()),
        T.StructField("spans_emitted", T.IntegerType()),
        # per-document extraction CPU time (µs) — feeds per-partition
        # lineage metrics and the skew diagnosis the north rule requires
        T.StructField("proc_us", T.LongType()),
    ]
)


def _arrow_schema(emit_metadata: bool = False):
    import pyarrow as pa

    fields = [
        ("doc_id", pa.string()),
        ("url", pa.string()),
        ("title", pa.string()),
        ("author", pa.string()),
        ("date_published", pa.string()),
        ("language", pa.string()),
        ("spans", pa_span_list()),
        ("word_count", pa.int32()),
        ("excerpt", pa.string()),
        ("success", pa.bool_()),
        ("error", pa.string()),
        ("warnings", pa.list_(pa.string())),
        ("content_html", pa.string()),
        ("markdown", pa.string()),
        ("nodes_scored", pa.int32()),
        ("spans_emitted", pa.int32()),
        ("proc_us", pa.int64()),
    ]
    if emit_metadata:
        fields.append(
            (
                "page_meta",
                pa.struct([(f, pa.string()) for f in _META_FIELD_NAMES]),
            )
        )
    return pa.schema(fields)


# mirrors extract.metadata.META_FIELDS without importing the kernel at
# module load (operators modules stay importable without the extract
# package's regex compilation on the driver)
_META_FIELD_NAMES = (
    "og_title",
    "og_description",
    "og_image",
    "canonical_url",
    "published_time",
    "headline",
    "author",
)


def _batch_extract(
    batches,
    min_word_count: int,
    emit_html: bool,
    emit_markdown: bool,
    emit_metadata: bool = False,
):
    """Executor-side Arrow batch function (mapInArrow: no pandas object
    inference on the nested span structs — measured ~40% of stage time).
    Imports resolve on the worker; regexes in extract.rules compile once
    per worker process."""
    from time import perf_counter

    import pyarrow as pa

    from ..extract.pipeline import ExtractOptions, extract_document

    opts = ExtractOptions(
        min_word_count=min_word_count,
        emit_html=emit_html,
        emit_markdown=emit_markdown,
        emit_metadata=emit_metadata,
    )
    schema = _arrow_schema(emit_metadata)
    n_fields = len(schema) - 2  # all but doc_id/url come from the result
    for batch in batches:
        urls = batch.column("url").to_pylist()
        htmls = batch.column("html").to_pylist()
        cols: list[list] = [[] for _ in range(n_fields)]
        for url, html in zip(urls, htmls):
            t0 = perf_counter()
            result = extract_document(html or "", url=url or "", options=opts)
            elapsed_us = int((perf_counter() - t0) * 1e6)
            spans = result["spans"]
            vals = (
                result["title"],
                result["author"],
                result["date_published"],
                result["language"],
                spans,
                result["word_count"],
                result["excerpt"],
                result["success"],
                result["error"],
                result["warnings"],
                result["content_html"],
                result["markdown"],
                result["nodes_scored"],
                len(spans),
                elapsed_us,
            )
            if emit_metadata:
                vals += (result.get("page_meta"),)
            for idx, val in enumerate(vals):
                cols[idx].append(val)
        # id/url columns are untouched: pass the Arrow buffers through
        # (cast is zero-copy when the type already matches) instead of
        # re-encoding every value from the Python lists
        arrays = [
            batch.column("doc_id").cast(schema.field(0).type),
            batch.column("url").cast(schema.field(1).type),
        ] + [
            pa.array(col, schema.field(i + 2).type)
            for i, col in enumerate(cols)
        ]
        yield pa.RecordBatch.from_arrays(arrays, schema=schema)


GIANT_MIN_BYTES = 1 << 20  # absolute floor: smaller docs never straggle
GIANT_SKEW_RATIO = 20.0  # max/median ratio that marks a real giant tail
GIANT_PROBE_REL_ERR = 0.01


def resolve_giant_threshold(pruned: DataFrame) -> int | None:
    """Derive the giant-doc salting threshold from the corpus's own
    size distribution — SURVEY §4 item 3's "salt chosen from a size
    histogram", so the straggler win doesn't depend on the caller
    knowing the corpus.  That win (2.45×, scripts/giant_bench.py) was
    measured on this operator alone over 48 giants clustered in one
    file; through ``job.run_extraction_job``, which sizes its scan
    splits and waves by input bytes, it has not been re-measured.

    One approx-quantile probe over the html lengths (median + max).
    Salting engages only when the tail is REAL: max ≥
    ``GIANT_MIN_BYTES`` (a doc below 1 MB can't straggle a task) and
    max ≥ ``GIANT_SKEW_RATIO`` × median (uniform corpora keep the
    single-scan plan — the split costs a second scan, only worth it
    when giants dominate the straggler profile).  The threshold is
    max(1 MB, SKEW_RATIO/2 × median) — anchored on the MEDIAN, not a
    tail quantile, because an approx p99's rank error lands inside the
    giant cluster exactly when giants are a sub-percent tail (measured:
    rel-err-1% p99 picked 2.5 MB on a corpus whose giants start at
    1 MB, leaving half of them unsalted).  The gate's max ≥ 20×median
    condition guarantees threshold ≤ max, so the giant branch is never
    vacuously empty.

    Cost: one column-pruned pass over html lengths.  The extraction job
    runs it once per run, on wave 0 (the whole input when the job runs
    one wave), and reuses the answer for later waves; the job has no
    threshold override."""
    probe = pruned.select(F.length("html").cast("double").alias("_n"))
    qs = probe.approxQuantile("_n", [0.5, 1.0], GIANT_PROBE_REL_ERR)
    if len(qs) != 2 or qs[1] is None:
        return None  # empty corpus
    p50, mx = qs
    if mx < GIANT_MIN_BYTES or mx < GIANT_SKEW_RATIO * max(p50, 1.0):
        return None
    return int(max(GIANT_MIN_BYTES, GIANT_SKEW_RATIO / 2 * p50))


def extract_articles(
    df: DataFrame,
    *,
    min_word_count: int = 150,
    emit_html: bool = False,
    emit_markdown: bool = False,
    emit_metadata: bool = False,
    giant_threshold: int | None = None,
) -> DataFrame:
    """Run main-content extraction over a corpus DataFrame.

    ``emit_metadata=True`` adds a ``page_meta`` struct column
    (og:*/canonical/published_time/JSON-LD headline+author,
    extract/metadata.py) read off the SAME parse as the spans — the
    single-parse production shape for a pipeline that wants text and
    provenance; running ``page_metadata`` separately would parse every
    document twice.

    Input needs (doc_id, url, html) columns; everything else is pruned
    before the Arrow exchange so giant non-consumed columns never cross
    the JVM→Python boundary.

    Skew handling: the default strategy is fine-grained input partitions
    (the job sizes scans to ~6 task waves per core, so one
    giant-document partition cannot stall the stage).  When the corpus
    has a heavy giant tail (multi-MB documents), pass ``giant_threshold``
    (bytes of HTML) to route giants through a separate salted branch:
    they are re-shuffled round-robin across all cores so no single task
    accumulates several of them.  Tradeoff: the split predicate cannot be
    pushed to parquet, so the scan runs twice — only worth it when the
    giant tail dominates the straggler profile (SURVEY.md §4 item 3).
    ``resolve_giant_threshold`` derives the threshold (or declines to
    salt at all) from the corpus's own size distribution.
    """
    from ..shipping import ensure_shipped
    from .parallelism import ensure_compute_parallelism

    ensure_shipped(df.sparkSession)
    pruned = df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("url").cast("string").alias("url"),
        F.col("html").cast("string").alias("html"),
    )

    # Parallelism floor for the CPU-bound Arrow stage (no-op when the
    # scan already has >= cores partitions) — see operators/parallelism.
    pruned = ensure_compute_parallelism(pruned)

    def runner(batches):
        return _batch_extract(
            batches,
            min_word_count,
            emit_html,
            emit_markdown,
            emit_metadata,
        )

    out_schema = ARTICLE_SCHEMA
    if emit_metadata:
        out_schema = T.StructType(
            ARTICLE_SCHEMA.fields
            + [
                T.StructField(
                    "page_meta",
                    T.StructType(
                        [
                            T.StructField(f, T.StringType())
                            for f in _META_FIELD_NAMES
                        ]
                    ),
                )
            ]
        )
    if giant_threshold is None:
        return pruned.mapInArrow(runner, schema=out_schema)

    is_giant = F.length(F.col("html")) >= giant_threshold
    cores = df.sparkSession.sparkContext.defaultParallelism
    normal = pruned.where(~is_giant).mapInArrow(runner, schema=out_schema)
    giants = (
        pruned.where(is_giant)
        .repartition(cores * 2)  # round-robin: giants spread evenly
        .mapInArrow(runner, schema=out_schema)
    )
    return normal.unionByName(giants)


def render_spans_to_html(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Assemble the interleaved span representation back into an HTML
    document — entirely JVM-side (whole-stage codegen), no UDF.

    Text spans may carry markup; media spans render as ``<img>``.  This
    is the bridge from the ``input_hint`` corpus shape
    (doc_id, spans) to the raw-HTML column the extraction stage consumes.
    """
    rendered = F.array_join(
        F.transform(
            F.array_sort(
                F.col(spans_col),
                lambda a, b: a["offset"] - b["offset"],
            ),
            lambda s: F.when(
                s["kind"] == F.lit("media"),
                F.concat(F.lit('<img src="'), s["media_ref"], F.lit('" />')),
            ).otherwise(
                F.when(
                    s["text"].contains("<"), s["text"]
                ).otherwise(F.concat(F.lit("<p>"), s["text"], F.lit("</p>")))
            ),
        ),
        "\n",
    )
    return df.withColumn("html", rendered)


METADATA_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.StringType())]
    + [
        T.StructField(f, T.StringType())
        for f in (
            "og_title",
            "og_description",
            "og_image",
            "canonical_url",
            "published_time",
            "headline",
            "author",
        )
    ]
)


def _batch_metadata(batches):
    """Executor-side Arrow batch function for page_metadata."""
    import pyarrow as pa

    from ..extract.metadata import META_FIELDS, extract_page_metadata

    for batch in batches:
        htmls = batch.column("html").to_pylist()
        cols: list[list] = [[] for _ in META_FIELDS]
        for html in htmls:
            meta = extract_page_metadata(html or "")
            for idx, f in enumerate(META_FIELDS):
                cols[idx].append(meta[f])
        yield pa.RecordBatch.from_arrays(
            # doc_id is untouched: zero-copy Arrow pass-through
            [batch.column("doc_id").cast(pa.string())]
            + [pa.array(c, pa.string()) for c in cols],
            schema=pa.schema(
                [(f.name, pa.string()) for f in METADATA_SCHEMA.fields]
            ),
        )


def page_metadata(df: DataFrame) -> DataFrame:
    """Page-declared provenance metadata (og:*, canonical, JSON-LD
    Article) for every document — extract.metadata over the shared DOM,
    Arrow-batched, input pruned to (doc_id, html) before the exchange.

    Beyond-reference: the reference declares author/date fields but
    never populates them (server.py:399-411); a training-data pipeline
    wants the page's self-declared provenance alongside the extracted
    text.  Same scale shape as extract_articles: a zero-shuffle
    map stage whose only exchange is the optional compute-parallelism
    respread.
    """
    from ..shipping import ensure_shipped
    from .parallelism import ensure_compute_parallelism

    ensure_shipped(df.sparkSession)
    pruned = df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("html").cast("string").alias("html"),
    )
    pruned = ensure_compute_parallelism(pruned)
    return pruned.mapInArrow(_batch_metadata, schema=METADATA_SCHEMA)
