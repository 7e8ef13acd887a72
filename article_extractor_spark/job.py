"""The end-to-end extraction job (spark-submit entry point).

    spark-submit --py-files aes.zip -m article_extractor_spark.job ...

Dataflow (one map stage + one tiny metrics shuffle; SURVEY.md §3.1/§4):

    read corpus (doc_id, spans)        # bucketed Parquet / Iceberg scan
      → skip committed buckets         # resume: latest bucket snapshot
      → render spans → html            # JVM-side, whole-stage codegen
      → mapInArrow extraction          # the single vectorized UDF stage
      → write bucketed output          # append into wiped bucket dirs
      → pruned read-back → lineage     # per-bucket snapshot commit
                           + HLL       # one grouping-sets aggregate

Wave execution: buckets are processed in ``waves`` groups, each wave
committing its lineage after its output lands — a killed job resumes at
wave granularity, re-running only uncommitted buckets.  By default the
wave count follows the input bytes: one wave per cores × 6 scan splits
of at most 256 MiB, so a small corpus pays the per-wave fixed cost
(a write job plus one read-back aggregate) once, and a huge one still
commits in many resumable waves.
"""

from __future__ import annotations

import argparse
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.sketches import HLL_M, estimate_from_registers
from .functions.text import md5_int
from .operators.extraction import (
    extract_articles,
    render_spans_to_html,
    resolve_giant_threshold,
)
from .session import build_session
from .sources import tableio
from .sources.synth import corpus_dataframe

# Scan-split sizing of a path corpus: about this many tasks per core
# per wave, each split at most this many bytes.  The default wave
# count is the number of such full-width rounds the corpus fills.
_TASKS_PER_CORE = 6
_MAX_SPLIT_BYTES = 256 << 20
# What one file adds to a scan split when Spark packs files into
# splits.  Spark's default (4 MB) exceeds the 1 MB split floor, which
# makes every bucket file under 1 MB a task of its own: a 2,000-doc
# corpus of 32 files of 50-110 KB would run 32 tasks of ~60 docs, each
# paying more fixed scan/Arrow/commit cost than kernel time (6 packed
# tasks measured ~1 s faster per run on 4 cores).  Small enough that
# such files pack up to the split target; large enough that a file
# this small is never cut into byte ranges.
_FILE_OPEN_COST = 128 << 10


def run_extraction_job(
    spark: SparkSession,
    corpus: DataFrame | str,
    output_path: str,
    *,
    run_id: str = "run-0",
    n_buckets: int = tableio.DEFAULT_BUCKETS,
    waves: int | None = None,
    min_word_count: int = 150,
    resume: bool = True,
    emit_html: bool = False,
    emit_markdown: bool = False,
    emit_metadata: bool = False,
    markdown_dir: str | None = None,
) -> dict:
    """Run (or resume) extraction over a corpus table.

    Returns job stats: buckets processed/skipped, docs, wall seconds,
    plus the write path and skew strategy that actually ran.

    ``waves=None`` derives the wave count from the input: for a path
    corpus ``ceil(total_bytes / (cores × 6 × 256 MiB))``, at least 1 —
    each wave then holds about 6 scan splits per core, none larger than
    256 MiB (the same sizing as the scan-split target below); a
    DataFrame corpus has no known size and runs one wave.  An explicit
    ``waves`` is used as given (capped at the uncommitted bucket count).

    Lineage: each wave's bucket rows are computed from a COLUMN-PRUNED
    read-back of the output the wave just wrote (metric ints + short
    strings, ~1% of output bytes — parquet never materializes
    spans/html here).  The run's distinct-document HLL registers come
    from the SAME aggregate: one grouping-sets pass over the read-back
    yields both the bucket rows and the register maxima
    (``tableio.lineage_and_registers``).  The read-back doubles as a
    write verification: a bucket commits only if its rows are readable.

    The job decides its skew strategy and write path from what it
    observes; no caller overrides either:

    * giant salting — wave 0's own size distribution picks the
      threshold above which documents (bytes of HTML) go through a
      salted extraction branch, or declines to salt
      (``resolve_giant_threshold``; buckets are hash-random, so wave 0
      is an unbiased sample and later waves reuse its answer).  Salting
      keeps several multi-MB giants off one straggler task.  Its 2.45×
      (scripts/giant_bench.py) was measured on ``extract_articles``
      alone over 48 giants clustered in one file, before the job sized
      its scan splits and waves by input bytes; it has not been
      re-measured through this job.
    * write path — the bucket-aligned exchange-free write engages only
      when the corpus came from a ``bucket=k``-partitioned PATH
      (physical task↔bucket alignment), a sampled check confirms its
      bucket values equal ``pmod(xxhash64(CAST(doc_id AS STRING)), N)``
      (a corpus bucketed with a different N, a foreign bucket column,
      or a native-numeric id hash all fail it — each would make the
      exchange-free write fan out tasks×buckets small files, ADVICE
      r4), and the wave's scan plans >= cores partitions.  Otherwise
      the classic repartition write runs.

    ``emit_html`` / ``emit_markdown`` populate the rendered-output
    columns in the result table.  ``markdown_dir`` additionally runs the
    D4 markdown-file sink (reference crawler.py:354-423) per wave: one
    frontmatter-headed ``.md`` file per successful document, fed from
    the wave's WRITTEN output table (a cheap column-pruned re-read of
    url/title/markdown/word_count — never a re-extraction), with the
    file manifest appended under ``{markdown_dir}/_manifest``.  Implies
    ``emit_markdown``.
    """
    if markdown_dir:
        emit_markdown = True
    prev_conf: dict[str, str] = {}
    bucket_provenance = False
    if isinstance(corpus, str):
        corpus_path = corpus
        # CPU-bound UDF stage: size scan partitions for compute, not IO.
        # With the default 128m maxPartitionBytes a small corpus
        # collapses to a handful of map tasks and extra cores idle
        # (measured: local[32] no faster than local[8] on 240 MB).
        # Target ~6 tasks per core per wave (fine-grained enough that
        # giant-document skew can't leave a long straggler tail),
        # clamped to [1m, 256m]; at 100 TB the clamp leaves the normal
        # large-scan behavior.  Files pack into splits at a small open
        # cost (_FILE_OPEN_COST), so the target, not the file count,
        # sets the task count.  The session-global overrides are restored
        # on exit (try/finally below) so later reads on a shared session
        # don't inherit tiny scan partitions.
        total_bytes = tableio.dir_size_bytes(spark, corpus)
        cores = spark.sparkContext.defaultParallelism
        target = min(
            max(total_bytes // (cores * _TASKS_PER_CORE), 1 << 20),
            _MAX_SPLIT_BYTES,
        )
        if waves is None:
            # as many waves as the corpus fills full-width rounds of
            # max-size splits: below cores × 1.5 GiB that is one wave
            waves = max(
                1,
                -(-total_bytes // (cores * _TASKS_PER_CORE * _MAX_SPLIT_BYTES)),
            )
        scan_conf = {
            "spark.sql.files.maxPartitionBytes": str(target),
            "spark.sql.files.openCostInBytes": str(_FILE_OPEN_COST),
        }
        prev_conf = {k: spark.conf.get(k) for k in scan_conf}
        for k, v in scan_conf.items():
            spark.conf.set(k, v)
        corpus = tableio.read_table(spark, corpus)
        # provenance half of the aligned-write gate: the corpus is
        # PHYSICALLY laid out as bucket=k dirs (a DataFrame corpus, or
        # a path with a mere bucket data column, never qualifies —
        # task splits there span buckets and the exchange-free write
        # would fan out tasks×buckets files)
        bucket_provenance = (
            "bucket" in corpus.columns
            and tableio.has_bucket_dirs(spark, corpus_path, n_buckets)
        )

    try:
        return _run_waves(
            spark,
            corpus,
            output_path,
            run_id=run_id,
            n_buckets=n_buckets,
            waves=1 if waves is None else waves,
            min_word_count=min_word_count,
            resume=resume,
            emit_html=emit_html,
            emit_markdown=emit_markdown,
            emit_metadata=emit_metadata,
            markdown_dir=markdown_dir,
            bucket_provenance=bucket_provenance,
        )
    finally:
        for k, v in prev_conf.items():
            spark.conf.set(k, v)


def _run_waves(
    spark: SparkSession,
    corpus: DataFrame,
    output_path: str,
    *,
    run_id: str,
    n_buckets: int,
    waves: int,
    min_word_count: int,
    resume: bool,
    emit_html: bool,
    emit_markdown: bool,
    emit_metadata: bool,
    markdown_dir: str | None,
    bucket_provenance: bool,
) -> dict:
    if "bucket" in corpus.columns:
        # The wave/lineage protocol needs corpus buckets to equal the
        # output table's string-hash re-derivation — otherwise a wave's
        # rows land in OTHER waves' output buckets and per-wave lineage
        # counts are garbage (ADVICE r4).  Sampled check (systematic
        # failure modes, so 128 first rows suffice); a misaligned
        # column is recomputed in place, trading partition pruning for
        # a correct commit protocol.
        values_ok = tableio.bucket_sample_aligned(corpus, n_buckets)
        if not values_ok:
            corpus = corpus.withColumn(
                "bucket", tableio.string_bucket_expr(n_buckets)
            )
        pre_ok = values_ok and bucket_provenance
    else:
        corpus = tableio.with_bucket(corpus, "doc_id", n_buckets)
        pre_ok = False
    if "html" not in corpus.columns:
        corpus = render_spans_to_html(corpus)
    if "url" not in corpus.columns:
        corpus = corpus.withColumn("url", F.lit(""))

    # read even without resume: another n_buckets is refused up front
    committed = tableio.read_committed_buckets(spark, output_path, n_buckets)
    if not resume:
        committed = set()
    todo = [b for b in range(n_buckets) if b not in committed]
    # Wipe every uncommitted bucket dir ONCE up front (a no-op on a
    # fresh output; non-empty only when a crashed wave left partial
    # files), then let each wave APPEND its disjoint bucket set.  This
    # replaces partitionOverwriteMode=dynamic, whose staging-and-move
    # job commit is a fixed driver-side cost (measured +18.5 s per
    # 240k-doc wave; a copy, not a rename, on object stores) that
    # Amdahl-caps N→4N scaling — see tableio.clear_buckets.
    tableio.clear_buckets(spark, output_path, todo)

    t0 = time.time()
    docs_done = 0
    observed: list[dict] = []
    run_regs: list[int] = [0] * HLL_M
    giant_threshold: int | None = None
    waves = max(1, min(waves, len(todo))) if todo else 0
    # True only if EVERY wave took the exchange-free write (the gate
    # can pass while a wave planning < cores partitions falls back)
    all_aligned = waves > 0
    cores = spark.sparkContext.defaultParallelism
    # (title, excerpt, word_count) fingerprint feeding the run's HLL
    fingerprint = md5_int(
        F.concat_ws(
            "\x1f",
            F.col("title"),
            F.col("excerpt"),
            F.col("word_count").cast("string"),
        )
    )
    for wave_idx in range(waves):
        wave_buckets = todo[wave_idx::waves]
        wave_df = corpus.where(F.col("bucket").isin(wave_buckets))
        if wave_idx == 0:
            # derive the salting threshold from wave 0's own size
            # distribution (buckets are hash-random → an unbiased
            # sample of the corpus); later waves reuse the answer, so
            # the probe's column-pruned length scan is paid once
            giant_threshold = resolve_giant_threshold(wave_df)
        # Bucket-aligned fast path: when provenance + the sampled value
        # check passed (pre_ok) and the wave's scan already plans
        # >= cores partitions, extract_articles' parallelism floor
        # no-ops (same predicate), every stage below is narrow, and
        # each task's rows lie inside one bucket directory's splits —
        # so the clustered write needs NO distribution and the whole
        # wave (scan → render → extract → write) runs as one
        # exchange-free stage.  Below the floor the respread breaks
        # alignment and the classic repartition write keeps file
        # counts bounded.  See tableio.write_bucketed(preshuffled=).
        aligned = pre_ok and wave_df.rdd.getNumPartitions() >= cores
        all_aligned = all_aligned and aligned
        extracted = extract_articles(
            wave_df,
            min_word_count=min_word_count,
            emit_html=emit_html,
            emit_markdown=emit_markdown,
            emit_metadata=emit_metadata,
            giant_threshold=giant_threshold,
        )
        # re-derive bucket from doc_id (mapInArrow output dropped it);
        # same hash → same bucket, no join needed
        extracted = tableio.with_bucket(extracted, "doc_id", n_buckets)
        written_schema = extracted.schema
        tableio.write_bucketed(
            extracted,
            output_path,
            mode="append",
            dynamic=False,
            n_buckets=n_buckets,
            preshuffled=aligned,
        )
        # Lineage + HLL from a COLUMN-PRUNED read-back of the wave just
        # written.  A write-side Observation would evaluate its
        # ~8·buckets + 256 aggregates INTERPRETED — measured ~14.5 s per
        # wave at 240k docs / local[32], more CPU than extraction
        # itself; the one pruned grouping-sets aggregate below costs
        # well under a second.
        # explicit schema: a wave that wrote ZERO rows to a fresh
        # output leaves only _SUCCESS, and schema inference would
        # throw 'Unable to infer schema' (ADVICE r4) — the schema
        # is known (it was just written), so the empty-dir read
        # degrades to an empty frame instead
        readback = spark.read.schema(written_schema).parquet(
            output_path
        ).where(F.col("bucket").isin(wave_buckets))
        # the readback scan inherits the job's compute-sized (tiny)
        # maxPartitionBytes, planning hundreds of ~1 MB splits for a
        # few MB of pruned metric columns — coalesce to core count
        # so the aggregate below isn't task-launch-bound (no shuffle:
        # coalesce merges scan partitions in place)
        readback = readback.coalesce(cores)
        lineage_rows, wave_regs = tableio.lineage_and_registers(
            readback, run_id, fingerprint
        )
        if markdown_dir:
            # D4 sink fed from the WRITTEN output (column-pruned read of
            # url/title/markdown/word_count — parquet never materializes
            # the span column here), not a second extraction pass.
            # Runs BEFORE the lineage commit: lineage is the commit
            # record, and a crash between sink and commit must leave the
            # bucket uncommitted so resume redoes it (md file writes are
            # idempotent overwrites; the manifest partition is
            # dynamically overwritten per bucket, so a redo converges
            # instead of accumulating duplicate rows).
            from .sinks.markdown_sink import write_markdown_files

            wave_out = spark.read.schema(written_schema).parquet(
                output_path
            ).where(F.col("bucket").isin(wave_buckets))
            manifest = tableio.with_bucket(
                write_markdown_files(wave_out, markdown_dir),
                "doc_id",
                n_buckets,
            )
            (
                manifest.repartition("bucket")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(markdown_dir.rstrip("/") + "/_manifest")
            )
        # driver-side snapshot commit (one small JSON file): the Spark
        # write job here cost 1.5-2.3 s of fixed scheduler time per
        # wave — see tableio.append_lineage_rows
        tableio.append_lineage_rows(
            spark, lineage_rows, output_path, n_buckets
        )
        docs_done += sum(r[4] for r in lineage_rows)  # docs_in ordinal
        # the committed wave's registers join the run's sketch
        # (register-wise max, the HLL union)
        for j, mx in wave_regs.items():
            run_regs[j] = max(run_regs[j], mx)
        # wave-level stats from the committed lineage rows themselves
        # (LINEAGE_FIELDS ordinals: 4=docs_in, 6=parse_failures, 8=spans)
        observed.append(
            {
                "wave": wave_idx,
                "docs": sum(int(r[4]) for r in lineage_rows),
                "failures": sum(int(r[6]) for r in lineage_rows),
                "spans": sum(int(r[8]) for r in lineage_rows),
            }
        )

    return {
        "observed_metrics": observed,
        "run_id": run_id,
        "buckets_total": n_buckets,
        "buckets_skipped": len(committed),
        "buckets_processed": len(todo),
        "docs_processed": docs_done,
        "docs_failed": sum(w["failures"] for w in observed),
        # HLL over (title, excerpt, word_count) fingerprints, merged
        # register-wise across this run's waves — ~6.5% std error;
        # 0.0 when the run processed nothing
        "distinct_docs_est": estimate_from_registers(run_regs)
        if any(run_regs)
        else 0.0,
        # which write path / skew strategy actually ran (the ADVICE
        # no-contrast check reads these)
        "preshuffled": all_aligned,
        "giant_threshold": giant_threshold,
        "wall_sec": round(time.time() - t0, 2),
    }


def write_manifest(stats: dict, path: str) -> None:
    """D5 manifest.json sink (reference crawler.py:549-571): the job's
    fold of per-page outcomes as a JSON file.  Counts come from the
    committed lineage rows (the distributed fold); this is the
    driver-side serialization of ~10 scalars, not a data pass."""
    import json
    import os

    data = {
        "job_id": stats["run_id"],
        "total_pages": stats["docs_processed"],
        "successful": stats["docs_processed"] - stats["docs_failed"],
        "failed": stats["docs_failed"],
        "skipped_buckets": stats["buckets_skipped"],
        "duration_seconds": stats["wall_sec"],
        "waves": stats["observed_metrics"],
    }
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(json.dumps(data, indent=2))


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="article-extractor-spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_synth = sub.add_parser("synth", help="generate a synthetic corpus table")
    p_synth.add_argument("--out", required=True)
    p_synth.add_argument("--docs", type=int, default=10000)
    p_synth.add_argument("--seed", type=int, default=42)
    p_synth.add_argument("--buckets", type=int, default=tableio.DEFAULT_BUCKETS)
    p_synth.add_argument(
        "--files-per-bucket",
        type=int,
        default=1,
        help="output files per bucket dir (Iceberg-like layout)",
    )

    p_cur = sub.add_parser(
        "curate",
        help="Dolma-style curation verdicts over an extraction output "
        "table (quality rules, exact/near dup canonicals, benchmark "
        "contamination, split — one status per document)",
    )
    p_cur.add_argument(
        "--table", required=True, help="output table from 'extract'"
    )
    p_cur.add_argument("--out", required=True)
    p_cur.add_argument(
        "--benchmark-table",
        default=None,
        help="parquet table of benchmark/eval docs (needs a 'text' "
        "column) to decontaminate against; omitted = decontamination "
        "is skipped (the benchmark slice is explicit, never inferred "
        "from doc ids)",
    )

    p_pipe = sub.add_parser(
        "pipeline",
        help="end-to-end: extraction -> curation verdicts -> shuffled "
        "sequence packing -> materialized training examples, each "
        "stage written under --out (see pipeline.run_pipeline)",
    )
    p_pipe.add_argument("--corpus", required=True)
    p_pipe.add_argument("--out", required=True)
    p_pipe.add_argument("--run-id", default="pipe-0")
    p_pipe.add_argument(
        "--buckets", type=int, default=tableio.DEFAULT_BUCKETS
    )
    p_pipe.add_argument(
        "--waves",
        type=int,
        default=None,
        help="extraction waves (default: derived from the input bytes)",
    )
    p_pipe.add_argument("--min-word-count", type=int, default=150)
    p_pipe.add_argument(
        "--chunk-tokens",
        type=int,
        default=None,
        help="packed example length in whitespace tokens",
    )
    p_pipe.add_argument("--benchmark-table", default=None)
    p_pipe.add_argument("--no-resume", action="store_true")
    p_pipe.add_argument("--manifest-out", default=None)

    p_wave = sub.add_parser(
        "wave",
        help="process ONE crawl wave incrementally: extraction -> "
        "state-probing curation -> epoch-scoped pack appended after "
        "the committed stream (pipeline.run_pipeline_wave; committed "
        "epochs are never rewritten)",
    )
    p_wave.add_argument("--corpus", required=True)
    p_wave.add_argument("--out", required=True)
    p_wave.add_argument(
        "--epoch",
        type=int,
        default=None,
        help="pin the epoch number (default: next uncommitted)",
    )
    p_wave.add_argument("--run-id", default=None)
    p_wave.add_argument(
        "--buckets", type=int, default=tableio.DEFAULT_BUCKETS
    )
    p_wave.add_argument(
        "--waves",
        type=int,
        default=None,
        help="extraction waves (default: derived from the input bytes)",
    )
    p_wave.add_argument("--min-word-count", type=int, default=150)
    p_wave.add_argument("--chunk-tokens", type=int, default=None)
    p_wave.add_argument("--benchmark-table", default=None)
    p_wave.add_argument("--no-resume", action="store_true")
    p_wave.add_argument("--manifest-out", default=None)

    p_run = sub.add_parser("extract", help="run the extraction job")
    p_run.add_argument("--corpus", required=True)
    p_run.add_argument("--out", required=True)
    p_run.add_argument("--run-id", default="run-0")
    p_run.add_argument("--buckets", type=int, default=tableio.DEFAULT_BUCKETS)
    p_run.add_argument(
        "--waves",
        type=int,
        default=None,
        help="extraction waves (default: derived from the input bytes)",
    )
    p_run.add_argument("--no-resume", action="store_true")
    p_run.add_argument(
        "--emit-html",
        action="store_true",
        help="populate the content_html column in the output table",
    )
    p_run.add_argument(
        "--emit-markdown",
        action="store_true",
        help="populate the markdown column in the output table",
    )
    p_run.add_argument(
        "--emit-metadata",
        action="store_true",
        help="populate the page_meta struct column (og:*/canonical/"
        "JSON-LD provenance) off the same parse as the spans",
    )
    p_run.add_argument(
        "--markdown-dir",
        default=None,
        help="also write one frontmatter-headed .md file per document "
        "here (implies --emit-markdown)",
    )
    p_run.add_argument(
        "--manifest-out",
        default=None,
        help="write the job manifest (crawler manifest.json analog) here",
    )

    args = parser.parse_args(argv)
    spark = build_session(app_name=f"aes-{args.cmd}")

    if args.cmd == "synth":
        df = corpus_dataframe(spark, args.docs, seed=args.seed)
        df = tableio.with_bucket(df, "doc_id", args.buckets)
        tableio.write_bucketed(
            df, args.out, dynamic=False,
            files_per_bucket=args.files_per_bucket,
            n_buckets=args.buckets,
        )
        print(f"wrote {args.docs} docs to {args.out}")
        return 0

    if args.cmd == "curate":
        from .pipeline import curation_verdicts, docs_from_extraction

        # The funnel runs directly on the STRING doc_id — dup
        # canonicals pick the lexicographic-min id, collision-free by
        # construction (a derived digit-suffix ordinal collided across
        # sources, e.g. 'siteA-42'/'siteB-42' — ADVICE r3) — and the
        # benchmark slice is the explicit --benchmark-table, never
        # inferred from low ids.
        docs = docs_from_extraction(tableio.read_table(spark, args.table))
        benchmark = (
            spark.read.parquet(args.benchmark_table)
            if args.benchmark_table
            else None
        )
        verdicts = curation_verdicts(
            docs, benchmark=benchmark, bench_ids_below=None
        )
        verdicts.write.mode("overwrite").parquet(args.out)
        # summary reads the WRITTEN table back instead of re-executing
        # the whole funnel a second time (ADVICE r3)
        summary = {
            r["status"]: r["n"]
            for r in spark.read.parquet(args.out)
            .groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        kept = sum(v for k, v in summary.items() if k.startswith("kept:"))
        print(
            f"curated {sum(summary.values())} docs -> kept {kept}; "
            f"statuses: {dict(sorted(summary.items()))}"
        )
        return 0

    if args.cmd == "wave":
        from .pipeline import PIPE_CHUNK_TOKENS, run_pipeline_wave

        manifest = run_pipeline_wave(
            spark,
            args.corpus,
            args.out,
            epoch=args.epoch,
            run_id=args.run_id,
            n_buckets=args.buckets,
            waves=args.waves,
            min_word_count=args.min_word_count,
            chunk_tokens=args.chunk_tokens or PIPE_CHUNK_TOKENS,
            benchmark_path=args.benchmark_table,
            resume=not args.no_resume,
            manifest_path=args.manifest_out,
        )
        print(manifest)
        return 0

    if args.cmd == "pipeline":
        from .pipeline import PIPE_CHUNK_TOKENS, run_pipeline

        manifest = run_pipeline(
            spark,
            args.corpus,
            args.out,
            run_id=args.run_id,
            n_buckets=args.buckets,
            waves=args.waves,
            min_word_count=args.min_word_count,
            chunk_tokens=args.chunk_tokens or PIPE_CHUNK_TOKENS,
            benchmark_path=args.benchmark_table,
            resume=not args.no_resume,
            manifest_path=args.manifest_out,
        )
        print(manifest)
        return 0

    stats = run_extraction_job(
        spark,
        args.corpus,
        args.out,
        run_id=args.run_id,
        n_buckets=args.buckets,
        waves=args.waves,
        resume=not args.no_resume,
        emit_html=args.emit_html,
        emit_markdown=args.emit_markdown,
        emit_metadata=args.emit_metadata,
        markdown_dir=args.markdown_dir,
    )
    if args.manifest_out:
        write_manifest(stats, args.manifest_out)
    print(stats)
    return 0


if __name__ == "__main__":
    sys.exit(main())
