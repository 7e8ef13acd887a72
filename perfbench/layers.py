"""Per-layer measurements for the traced run.

- ``JobProbe``: driver-side spans around the calls ``job`` and
  ``pipeline`` make (one ``job.wave`` parent span per wave).
- ``ladder``: the fused scan→render→extract→write stage split by
  running it one public call at a time into a noop sink.
- ``kernel_phases``: ``extract_document`` in this process, once plain
  and once with the names ``extract.pipeline`` imports wrapped.
"""

from __future__ import annotations

import statistics
from time import perf_counter

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from article_extractor_spark import job as job_mod
from article_extractor_spark.dom.node import Node
from article_extractor_spark.extract import pipeline as kernel
from article_extractor_spark.extract.scoring import DocMemo
from article_extractor_spark.operators.extraction import (
    extract_articles,
    render_spans_to_html,
)
from article_extractor_spark.sources import tableio

from .tracing import Tracer

# pipeline writes under <out>/epochs/<n>/... and <out>/state/...
_WAVE_WRITES = (
    ("/verdicts", "pipeline.curate"),
    ("/pack", "pipeline.pack"),
    ("/examples", "pipeline.examples"),
)

KERNEL_PHASES = {
    "dom.parse": [(kernel, "parse_html")],
    "extract.clean": [
        (kernel, "normalized_host"),
        (kernel, "strip_selector_for_host"),
        (kernel, "clean_document"),
        (kernel, "extract_title"),
    ],
    "extract.prime": [(DocMemo, "prime")],
    "extract.rank": [
        (kernel, "discover_candidates"),
        (kernel, "rank"),
        (kernel, "refine_top"),
        (kernel, "_adjust_candidate_for_host"),
    ],
    "extract.sanitize": [
        (kernel, "absolutize_urls"),
        (kernel, "sanitize_content"),
        (kernel, "host_specific_cleanup"),
        (kernel, "safe_mode_clean"),
    ],
    "extract.spans": [(kernel, "dom_to_spans"), (Node, "to_text"), (kernel, "_excerpt")],
}


class JobProbe:
    """Wraps the job's and pipeline's calls into spans and remembers
    how the job configured its fused stage, so the ladder can rerun it
    the same way."""

    def __init__(self, tracer: Tracer, spark):
        self.tracer = tracer
        self.spark = spark
        self.wave = None
        self.committed = False
        self.stage_conf: dict = {}

    def _next_wave(self, args, kwargs) -> None:
        if self.wave is not None and not self.committed:
            return
        self._end_wave()
        self.wave = self.tracer.open("job.wave")
        self.committed = False

    def _end_wave(self) -> None:
        if self.wave is not None:
            self.tracer.close(self.wave)
            self.wave = None

    def _on_write(self, args, kwargs) -> None:
        if "max_partition_bytes" not in self.stage_conf:
            self.stage_conf["max_partition_bytes"] = self.spark.conf.get("spark.sql.files.maxPartitionBytes")
            self.stage_conf["preshuffled"] = bool(kwargs.get("preshuffled", False))

    def _on_commit(self, args, kwargs) -> None:
        self.committed = True

    def _on_threshold(self, result) -> None:
        self.stage_conf["giant_threshold"] = result

    def install(self) -> None:
        t = self.tracer
        t.wrap(job_mod, "resolve_giant_threshold", "job.probe", before=self._next_wave, after=self._on_threshold)
        t.wrap(job_mod, "extract_articles", "extraction.plan", before=self._next_wave)
        t.wrap(tableio, "read_committed_buckets", "tableio.resume")
        t.wrap(tableio, "clear_buckets", "tableio.resume")
        t.wrap(tableio, "write_bucketed", "tableio.write_bucketed", before=self._on_write)
        t.wrap(tableio, "append_lineage_rows", "tableio.commit", before=self._on_commit)

        run_job = job_mod.run_extraction_job

        def traced_job(*args, **kwargs):
            with t.span("job.run"):
                try:
                    return run_job(*args, **kwargs)
                finally:
                    self._end_wave()

        t.patch(job_mod, "run_extraction_job", traced_job)

        write_parquet = DataFrameWriter.parquet

        def traced_parquet(writer, path, *args, **kwargs):
            name = _wave_layer(str(path))
            if name is None:
                return write_parquet(writer, path, *args, **kwargs)
            with t.span(name):
                return write_parquet(writer, path, *args, **kwargs)

        t.patch(DataFrameWriter, "parquet", traced_parquet)


def _wave_layer(path: str) -> str | None:
    if "/state/" in path:
        return "pipeline.state"
    for suffix, name in _WAVE_WRITES:
        if path.rstrip("/").endswith(suffix):
            return name
    return None


def span_metrics(tracer: Tracer) -> dict:
    d = tracer.durations()
    s = tracer.self_times()
    return {
        "job.probe_s": d["job.probe"],
        "tableio.resume_s": d["tableio.resume"],
        "tableio.write_bucketed_s": d["tableio.write_bucketed"],
        "job.readback_s": s["job.wave"],
        "tableio.commit_s": d["tableio.commit"],
        "job.self_s": s["job.run"],
        "pipeline.extract_s": d["job.run"] if d["pipeline.wave"] else 0.0,
        "pipeline.curate_s": d["pipeline.curate"],
        "pipeline.pack_s": d["pipeline.pack"],
        "pipeline.examples_s": d["pipeline.examples"],
        "pipeline.state_s": d["pipeline.state"],
        "pipeline.self_s": s["pipeline.wave"],
    }


def _noop(df) -> float:
    t0 = perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return perf_counter() - t0


def ladder(spark, corpus: str, out: str, stage_conf: dict, n_buckets: int = tableio.DEFAULT_BUCKETS) -> dict:
    """Each rung adds one public call to the previous rung's plan and
    runs it once: scan, +render, +extract (noop sinks), +bucket+write."""
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", stage_conf["max_partition_bytes"])
    try:
        scan = _noop(tableio.read_table(spark, corpus))
        render = _noop(render_spans_to_html(tableio.read_table(spark, corpus)))
        obs = Observation("perfbench-kernel")
        extracted = extract_articles(
            render_spans_to_html(tableio.read_table(spark, corpus)),
            giant_threshold=stage_conf.get("giant_threshold"),
        )
        mapinarrow = _noop(extracted.observe(obs, F.sum("proc_us").alias("us")))
        busy_s = (obs.get["us"] or 0) / 1e6 / spark.sparkContext.defaultParallelism
        t0 = perf_counter()
        tableio.write_bucketed(
            tableio.with_bucket(
                extract_articles(
                    render_spans_to_html(tableio.read_table(spark, corpus)),
                    giant_threshold=stage_conf.get("giant_threshold"),
                ),
                "doc_id",
                n_buckets,
            ),
            out,
            mode="append",
            dynamic=False,
            n_buckets=n_buckets,
            preshuffled=stage_conf["preshuffled"],
        )
        write = perf_counter() - t0
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    return {
        "tableio.scan_s": scan,
        "extraction.render_s": render - scan,
        "extraction.mapinarrow_s": mapinarrow - render,
        "tableio.write_s": write - mapinarrow,
        "extraction.boundary_s": mapinarrow - render - busy_s,
    }


def kernel_phases(docs: list[dict], tracer: Tracer) -> tuple[dict, bool]:
    """Phase times of ``extract_document`` over ``docs`` in this
    process.  Returns (metrics, wrapped output identical to plain)."""
    plain = []
    t0 = perf_counter()
    for d in docs:
        plain.append(kernel.extract_document(d["html"], url=d["url"]))
    plain_s = perf_counter() - t0

    for phase, targets in KERNEL_PHASES.items():
        for owner, attr in targets:
            tracer.wrap(owner, attr, phase, only_under="extract.document")
    wrapped = []
    try:
        with tracer.span("kernel"):
            for d in docs:
                with tracer.span("extract.document"):
                    wrapped.append(kernel.extract_document(d["html"], url=d["url"]))
    finally:
        tracer.restore()

    dur = tracer.durations()
    doc_s = dur["extract.document"]
    phase_s = {p: dur[p] for p in KERNEL_PHASES}
    metrics = {f"{p}_s": v for p, v in phase_s.items()}
    metrics.update(
        {
            "extract.phase_coverage": sum(phase_s.values()) / doc_s,
            "extract.wrap_overhead_pct": 100.0 * (doc_s - plain_s) / plain_s,
            "extract.kernel_docs_per_core_s": len(docs) / plain_s,
            "extract.input_mb": sum(len(d["html"].encode("utf-8")) for d in docs) / 1e6,
        }
    )
    return metrics, wrapped == plain


def quantile(values: list[float], q: float) -> float:
    values = sorted(values)
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]
