"""Structured Streaming surfaces.

The reference engine is batch-only (SURVEY.md §2.3: the BFS crawler is
its only unbounded dataflow), but the natural Spark deployment of this
engine at 10^12 documents is incremental: new corpus files land in the
bucketed table and a `Trigger.AvailableNow` stream drains whatever is
available, extracts it, and checkpoints — the streaming analog of the
job's lineage/resume protocol (reference storage_queue.py:87-293).

Three surfaces:

- ``streaming_extraction`` — readStream over the corpus table → the same
  mapInArrow extraction stage (DataFrame code is identical in batch and
  streaming) → parquet sink with checkpoint.  ``Trigger.AvailableNow``
  processes the backlog then stops; re-running resumes from the
  checkpoint and processes only new files.
- ``windowed_event_rates`` — watermarked tumbling-window aggregation
  (the streaming form of the reference's rate-limiter event window,
  rate_limiter.py:111-118): late events beyond the watermark are
  dropped, state is bounded.
- ``streaming_exact_dedup`` — custom stateful operator
  (``applyInPandasWithState``): cross-micro-batch exact dedup on
  ingest.  A stateless ``dropDuplicates`` only dedups within what it
  has seen in the current query; the keyed GroupState persists the
  content-key set across batches and restarts (checkpointed), so a
  duplicate arriving days later is still dropped.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.extraction import extract_articles, render_spans_to_html


def streaming_extraction(
    spark: SparkSession,
    corpus_path: str,
    output_path: str,
    checkpoint_path: str,
    *,
    min_word_count: int = 150,
    max_files_per_trigger: int | None = None,
):
    """Incrementally extract newly-landed corpus files.

    Returns the started StreamingQuery (AvailableNow: drains the current
    backlog and stops; the checkpoint makes re-runs incremental).
    """
    static = spark.read.parquet(corpus_path)
    reader = (
        spark.readStream.schema(static.schema)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    corpus = reader.parquet(corpus_path)

    if "html" not in corpus.columns:
        corpus = render_spans_to_html(corpus)
    if "url" not in corpus.columns:
        corpus = corpus.withColumn("url", F.lit(""))
    extracted = extract_articles(corpus, min_word_count=min_word_count)

    return (
        extracted.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


DEDUP_KEY_GROUPS = 64

# Bloom-filter state sizing (per key group).  2^20 bits = 128 KiB per
# group holds ~110k keys at 1% false-positive rate (k=5); with 64
# groups that is ~7M docs for 8 MiB of total state.  At 10^12 docs,
# raise BLOOM_BITS (the state stays FIXED-SIZE per group regardless of
# key count — that is the point) and/or DEDUP_KEY_GROUPS.
BLOOM_BITS = 1 << 20
BLOOM_HASHES = 5

DEDUP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("content_key", T.StringType()),
    ]
)

DEDUP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("bloom", T.BinaryType()),
        T.StructField("n_admitted", T.LongType()),
    ]
)


def _bloom_positions(content_key: str) -> list[int]:
    """k bit positions via Kirsch-Mitzenmacher double hashing over the
    two 64-bit halves of the md5-hex content key: pos_i = h1 + i·h2
    (mod m).  No extra hashing — the key IS already an md5."""
    h1 = int(content_key[:16], 16)
    h2 = int(content_key[16:32], 16) | 1  # odd → full-period stride
    return [(h1 + i * h2) % BLOOM_BITS for i in range(BLOOM_HASHES)]


def _dedup_state_fn(key, pdfs: Iterator[pd.DataFrame], state):
    """Runs once per (micro-batch, key-group): admit rows whose
    content_key has never been seen in ANY batch.

    State is a FIXED-SIZE Bloom filter (BLOOM_BITS bits per group), not
    an exact key set — a repeated-key flood, or simply an unbounded run,
    can no longer grow the checkpointed state.  The trade: ~1% of
    genuinely-new documents are falsely dropped once a group nears its
    ~110k-key design capacity (over-dedup, the acceptable direction for
    a training corpus — never under-dedup: a key whose bits are set IS
    dropped, so duplicates can never leak through).
    """
    import numpy as np

    if state.exists:
        bits = np.frombuffer(state.get[0], dtype=np.uint8).copy()
        n_admitted = int(state.get[1])
    else:
        bits = np.zeros(BLOOM_BITS // 8, dtype=np.uint8)
        n_admitted = 0
    out_ids: list[str] = []
    out_keys: list[str] = []
    for pdf in pdfs:
        for doc_id, ck in zip(pdf["doc_id"], pdf["content_key"]):
            pos = _bloom_positions(ck)
            if all(bits[p >> 3] & (1 << (p & 7)) for p in pos):
                continue  # seen (or Bloom false positive): drop
            for p in pos:
                bits[p >> 3] |= 1 << (p & 7)
            n_admitted += 1
            out_ids.append(doc_id)
            out_keys.append(ck)
    state.update((bits.tobytes(), n_admitted))
    yield pd.DataFrame({"doc_id": out_ids, "content_key": out_keys})


def streaming_exact_dedup(
    corpus: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Cross-batch exact dedup on ingest (custom stateful operator).

    Keyed by a bounded hash group of the content key so state shards
    evenly across executors; each group's ``GroupState`` holds a
    FIXED-SIZE Bloom filter over the content keys it has admitted
    (``_dedup_state_fn``).  The first occurrence of a key passes; every
    later occurrence — same batch, later batch, or after a restart
    (state lives in the checkpoint) — is dropped.

    Scale note (10^12 docs): state is BLOOM_BITS/8 bytes per group no
    matter how many keys arrive — a repeated-key flood or an unbounded
    run cannot grow the checkpoint.  Size BLOOM_BITS/DEDUP_KEY_GROUPS
    for the expected distinct-key volume (~1% false-positive over-dedup
    at design capacity; duplicates never leak through).
    """
    keyed = corpus.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.md5(
            F.regexp_replace(F.lower(F.trim(F.col(text_col))), "\\s+", " ")
        ).alias("content_key"),
    ).withColumn(
        "kgroup",
        F.pmod(F.xxhash64("content_key"), F.lit(DEDUP_KEY_GROUPS)).cast(
            "int"
        ),
    )
    return keyed.groupBy("kgroup").applyInPandasWithState(
        _dedup_state_fn,
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def windowed_event_rates(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window event counts per user.

    Works on both a static and a streaming ``events`` DataFrame (same
    plan); with a stream, state for windows older than the watermark is
    evicted, so memory is bounded regardless of run length.
    """
    # parquet TIMESTAMP_NTZ → TIMESTAMP (session tz is pinned UTC);
    # watermarks require event-time on TIMESTAMP
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("win"),
            F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            "user_id",
            "n_events",
        )
    )


# --- Streaming distinct-count sketch (HLL registers as GroupState) ----

HLL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("est_distinct", T.DoubleType()),
    ]
)

HLL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("regs", T.BinaryType()),
        T.StructField("n_seen", T.LongType()),
    ]
)


def _hll_state_fn(key, pdfs: Iterator[pd.DataFrame], state):
    """Per (micro-batch, source): fold items into the group's HLL
    register vector and emit the running distinct estimate.

    State is EXACTLY ``HLL_M`` bytes per source — rho ≤ 53 fits a
    byte — no matter how many items arrive (the same fixed-size-state
    guarantee as the streaming Bloom dedup), and the register update
    is the batch sketch's max-merge, so the streaming estimate after N
    batches equals the batch query over the union of those batches
    (pinned by test_streaming_hll_matches_batch_sketch)."""
    import hashlib

    import numpy as np

    from ..functions.sketches import (
        HLL_BITS,
        HLL_M,
        estimate_from_registers,
        rho_of,
    )

    if state.exists:
        regs = np.frombuffer(state.get[0], dtype=np.uint8).copy()
        n_seen = int(state.get[1])
    else:
        regs = np.zeros(HLL_M, dtype=np.uint8)
        n_seen = 0
    for pdf in pdfs:
        for item in pdf["item"]:
            h = int(hashlib.md5(item.encode("utf-8")).hexdigest()[:15], 16)
            j = h & (HLL_M - 1)
            r = rho_of(h)
            if r > regs[j]:
                regs[j] = r
            n_seen += 1
    state.update((regs.tobytes(), n_seen))
    yield pd.DataFrame(
        {
            "source": [key[0]],
            "n_seen": [n_seen],
            "est_distinct": [estimate_from_registers(regs)],
        }
    )


def streaming_distinct_counts(
    items: DataFrame, key_col: str = "source", item_col: str = "item"
) -> DataFrame:
    """Running per-source distinct-item estimate over a stream —
    distinct-URL accounting during ingest without storing the URLs.
    Every micro-batch emits the group's updated estimate; the
    checkpointed state is the HLL register vector (``HLL_M`` bytes per
    source, fixed-size forever), and because the update is the batch
    sketch's register max-merge, the stream converges to exactly what
    ``sketches.hll_estimate`` computes over all data seen."""
    keyed = items.select(
        F.col(key_col).cast("string").alias("source"),
        F.col(item_col).cast("string").alias("item"),
    )
    return keyed.groupBy("source").applyInPandasWithState(
        _hll_state_fn,
        outputStructType=HLL_OUT_SCHEMA,
        stateStructType=HLL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def streaming_extraction_job(
    spark: SparkSession,
    corpus_path: str,
    output_path: str,
    checkpoint_path: str,
    *,
    n_buckets: int = 8,
    run_id: str = "stream-0",
    min_word_count: int = 150,
):
    """The production "new crawl wave arrives as files" shape,
    end-to-end: AvailableNow ingest → the SAME ``extract_articles``
    mapInArrow stage the batch job runs → bucket-partitioned append →
    per-micro-batch LINEAGE COMMIT (the batch job's default
    column-pruned read-back aggregation, ``tableio.build_lineage``,
    which also verifies the written batch is readable), so the streaming
    output table carries the identical audit trail as a batch run
    (reference storage_queue.py:87-293's append-only commit record).

    Exactly-once, for real: the stream checkpoint makes each source
    file process once on the happy path, and the per-batch write is
    IDEMPOTENT under replay — each micro-batch owns the
    ``batch=<batch_id>`` partition directory (data and lineage both)
    and writes it with overwrite, so a batch re-run after a
    crash-between-write-and-checkpoint replaces its own partial output
    instead of appending a second copy (review r4; the batch job's
    equivalent is ``tableio.clear_buckets`` before its appends).
    Commit economics are unchanged: an overwrite of a batch-unique
    subdir commits task files in place exactly like an append — the
    expensive dynamic-partition staging move never happens because no
    two batches share a directory.  Returns the started query;
    re-running with the same checkpoint drains only newly-landed files
    — the streaming twin of the batch job's committed-bucket resume.

    Tests pin stream == batch (span-identical rows, equal lineage
    totals) and replay == once (same batch_id committed twice yields
    one copy)."""
    static = spark.read.parquet(corpus_path)
    corpus = spark.readStream.schema(static.schema).parquet(corpus_path)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        _stream_commit_batch(
            batch_df,
            batch_id,
            output_path=output_path,
            n_buckets=n_buckets,
            run_id=run_id,
            min_word_count=min_word_count,
        )

    return (
        corpus.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def _stream_commit_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    output_path: str,
    n_buckets: int,
    run_id: str,
    min_word_count: int,
) -> None:
    """One micro-batch of ``streaming_extraction_job`` (module-level so
    the replay-idempotence test can invoke it twice with one batch_id).
    Writes ``output_path/batch=<id>/bucket=<k>/`` with overwrite — the
    batch-unique subdir is the idempotence unit."""
    from ..sources import tableio

    df = batch_df
    if "html" not in df.columns:
        df = render_spans_to_html(df)
    if "url" not in df.columns:
        df = df.withColumn("url", F.lit(""))

    extracted = extract_articles(df, min_word_count=min_word_count)
    extracted = tableio.with_bucket(extracted, "doc_id", n_buckets)
    batch_path = f"{output_path}/batch={int(batch_id)}"
    (
        extracted.repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(batch_path)
    )
    # lineage from a column-pruned read-back of the batch just written
    # (the same lineage path as the batch job): codegen'd hash
    # aggregate over the metric ints, and the commit only happens if
    # the written rows are readable.  Explicit schema: an EMPTY
    # micro-batch (zero-row input files) writes batch=<id>/ with no
    # part files, and schema inference there would throw and fail the
    # whole streaming query (ADVICE r4) — the schema is known, so the
    # empty batch degrades to zero lineage rows instead
    spark = extracted.sparkSession
    rows = [
        tuple(r)
        for r in tableio.build_lineage(
            spark.read.schema(extracted.schema).parquet(batch_path),
            f"{run_id}-b{batch_id}",
        ).collect()
    ]
    if rows:
        (
            spark.createDataFrame(rows, tableio.LINEAGE_SCHEMA)
            .write.mode("overwrite")
            .parquet(
                f"{tableio.lineage_path(output_path)}/batch={int(batch_id)}"
            )
        )


def streaming_pipeline_job(
    spark: SparkSession,
    corpus_path: str,
    out: str,
    checkpoint_path: str,
    *,
    n_buckets: int = 8,
    min_word_count: int = 150,
    chunk_tokens: int | None = None,
    benchmark_path: str | None = None,
):
    """The streaming twin of the WAVE-INCREMENTAL pipeline: every
    micro-batch of newly-landed corpus files runs the full funnel —
    extraction → curation verdicts → epoch-scoped shuffled pack →
    materialized examples — as ONE EPOCH of ``run_pipeline_wave``
    (VERDICT r4 task #7 composed with task #3).

    Batch/stream share the identical DataFrame code path: the batch
    runner IS the foreachBatch body, so stream == batch equivalence is
    structural (pinned by test_streaming_pipeline_matches_batch_waves).
    Curation state stays incremental — each batch probes the persisted
    exact-key table and capped MinHash band index, never re-reading
    committed batches' text — and packing appends after the committed
    token offset on a chunk boundary.

    Exactly-once: the micro-batch id IS the epoch number, and
    ``run_pipeline_wave`` skips an epoch whose state marker already
    committed — a batch replayed after a crash between state commit
    and stream checkpoint is recognized instead of re-ingested; a
    crash EARLIER in the batch resumes into the same epoch (bucket
    lineage for extraction, deterministic overwrites downstream).
    """
    from ..pipeline import PIPE_CHUNK_TOKENS, run_pipeline_wave

    static = spark.read.parquet(corpus_path)
    corpus = spark.readStream.schema(static.schema).parquet(corpus_path)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        run_pipeline_wave(
            spark,
            batch_df,
            out,
            epoch=int(batch_id),
            run_id=f"stream-b{batch_id}",
            n_buckets=n_buckets,
            waves=1,
            min_word_count=min_word_count,
            chunk_tokens=chunk_tokens or PIPE_CHUNK_TOKENS,
            benchmark_path=benchmark_path,
        )

    return (
        corpus.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
