"""Structured Streaming surfaces.

The reference engine is batch-only (SURVEY.md §2.3: the BFS crawler is
its only unbounded dataflow), but the natural Spark deployment of this
engine at 10^12 documents is incremental: new corpus files land in the
bucketed table and a ``Trigger.AvailableNow`` stream drains whatever is
available.  The stream has no commit protocol of its own: every
micro-batch is ONE EPOCH of the batch code, written under
``out/epochs/<batch_id>/`` (the micro-batch is the recovery unit, as in
*RAFT at work*, SIGMOD 2011).

- ``streaming_extraction_job`` — each micro-batch runs
  ``run_extraction_job`` into ``epochs/<id>/extracted``.
- ``streaming_pipeline_job`` — each micro-batch runs
  ``run_pipeline_wave(epoch=<id>)``.
- ``windowed_event_rates`` — watermarked tumbling-window aggregation
  (the streaming form of the reference's rate-limiter event window,
  rate_limiter.py:111-118): late events beyond the watermark are
  dropped, state is bounded.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..job import run_extraction_job
from ..pipeline import PIPE_CHUNK_TOKENS, _epoch_dir, run_pipeline_wave
from ..sources.synth import CORPUS_SCHEMA


def _drain(
    spark: SparkSession,
    corpus_path: str,
    checkpoint_path: str,
    body: Callable[[DataFrame, int], None],
):
    """Start an AvailableNow stream over the corpus table that hands
    every non-empty micro-batch to ``body(batch_df, batch_id)``.

    The schema is a constant (``CORPUS_SCHEMA`` plus the ``bucket``
    partition column), so a stream started on an empty source directory
    runs instead of failing schema inference.  Exactly-once comes from
    the body: a batch replayed after a crash before its checkpoint
    commit re-runs with the same id and resumes into the same epoch.
    Returns the started query."""
    # a new StructType: StructType.add would mutate the shared constant
    schema = T.StructType(
        [*CORPUS_SCHEMA.fields, T.StructField("bucket", T.IntegerType())]
    )
    corpus = spark.readStream.schema(schema).parquet(corpus_path)

    def each(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            body(batch_df, int(batch_id))

    return (
        corpus.writeStream.foreachBatch(each)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
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
    """The production "new crawl wave arrives as files" shape: every
    micro-batch is one ``run_extraction_job`` into
    ``output_path/epochs/<batch_id>/extracted`` (bucket snapshots beside
    it in ``extracted_lineage``, run id ``<run_id>-b<batch_id>``) — the
    same epoch layout as ``run_pipeline_wave``.

    A replayed batch resumes into its own epoch directory: committed
    buckets are skipped and partial ones wiped, so the table holds one
    copy.  Read the result as the union of one read per epoch (a single
    read over several roots that each hold ``bucket=`` directories is
    refused by Spark).  Returns the started query; re-running with the
    same checkpoint drains only newly-landed files."""

    def body(batch_df: DataFrame, batch_id: int) -> None:
        run_extraction_job(
            spark,
            batch_df,
            f"{_epoch_dir(output_path, batch_id)}/extracted",
            run_id=f"{run_id}-b{batch_id}",
            n_buckets=n_buckets,
            waves=1,
            min_word_count=min_word_count,
        )

    return _drain(spark, corpus_path, checkpoint_path, body)


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
    materialized examples — as ONE EPOCH of ``run_pipeline_wave``, so
    stream == batch is structural (pinned by
    test_streaming_pipeline_matches_batch_waves).

    Exactly-once: the micro-batch id IS the epoch number, and
    ``run_pipeline_wave`` skips an epoch that the latest state snapshot
    already lists — a batch replayed after a crash between state commit
    and stream checkpoint is recognized instead of re-ingested; a
    crash EARLIER in the batch resumes into the same epoch (the bucket
    snapshot log for extraction, deterministic overwrites downstream).
    """

    def body(batch_df: DataFrame, batch_id: int) -> None:
        run_pipeline_wave(
            spark,
            batch_df,
            out,
            epoch=batch_id,
            run_id=f"stream-b{batch_id}",
            n_buckets=n_buckets,
            waves=1,
            min_word_count=min_word_count,
            chunk_tokens=chunk_tokens or PIPE_CHUNK_TOKENS,
            benchmark_path=benchmark_path,
        )

    return _drain(spark, corpus_path, checkpoint_path, body)
