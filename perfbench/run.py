"""Layer-attributed benchmark for the extraction job and the incremental
wave.

    python3 perfbench/run.py --workload extract-mixed --seed 1 --seconds 10 --trace 0

Run from the repository root.  Each run starts one driver process on
``local[nproc]``, generates its inputs from ``--seed`` (untimed), sets
the session up to its first completed extraction, then repeats the workload's
public entry point until ``--seconds`` have passed (at least once):

- ``extract-mixed`` / ``extract-giant-tail``: ``job.run_extraction_job``
  with its own defaults over a bucketed corpus table;
- ``wave-incremental``: ``pipeline.run_pipeline_wave`` over one new wave,
  each repetition starting from a copy of the same committed epoch 0.

Every repetition's output is checked against the generator's expected
spans (and, for the wave, the planted duplicates' verdicts).  The last
stdout line is the result JSON; the line before it is the provenance.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` runs one
traced repetition plus the layer probes and reports the per-layer
metrics.  Spans of a traced run are written under ``.perfbench/traces``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from datetime import datetime, timezone
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".perfbench"
WORKLOADS = ("extract-mixed", "extract-giant-tail", "wave-incremental")
DEADLINE_S = 150.0  # no new repetition starts after this much wall time

END_TO_END = {
    "docs_per_s": "1/s",
    "setup_s": "s",
    "ok_ratio": "ratio",
    "worker_peak_rss_mb": "MB",
}
PER_LAYER = {
    "trace.docs_per_s": "1/s",
    "job.probe_s": "s",
    "tableio.resume_s": "s",
    "tableio.write_bucketed_s": "s",
    "job.readback_s": "s",
    "tableio.commit_s": "s",
    "job.self_s": "s",
    "tableio.output_files": "count",
    "tableio.output_mb": "MB",
    "tableio.scan_s": "s",
    "extraction.render_s": "s",
    "extraction.mapinarrow_s": "s",
    "tableio.write_s": "s",
    "extraction.boundary_s": "s",
    "dom.parse_s": "s",
    "extract.clean_s": "s",
    "extract.prime_s": "s",
    "extract.rank_s": "s",
    "extract.sanitize_s": "s",
    "extract.spans_s": "s",
    "extract.phase_coverage": "ratio",
    "extract.wrap_overhead_pct": "%",
    "extract.kernel_docs_per_core_s": "1/s",
    "extract.doc_p50_us": "us",
    "extract.doc_p99_us": "us",
    "extract.input_mb": "MB",
    "pipeline.extract_s": "s",
    "pipeline.curate_s": "s",
    "pipeline.pack_s": "s",
    "pipeline.examples_s": "s",
    "pipeline.state_s": "s",
    "pipeline.self_s": "s",
    "pipeline.kept_ratio": "ratio",
    "pipeline.dup_hits": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
}


def _source_sha() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "article_extractor_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
            check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip()


class Run:
    """One benchmark process: inputs, session, timed repetitions."""

    def __init__(self, args, cores: int, work: Path):
        from perfbench import corpora

        self.args = args
        self.cores = cores
        self.work = work
        self.t_start = time.perf_counter()
        self.spark = None
        self.reps: list[dict] = []
        self.dup_ids: list[str] = []
        self.base_state: Path | None = None
        if args.workload == "wave-incremental":
            self.base_docs = corpora.wave_base()
            self.docs, self.dup_ids = corpora.wave(args.seed, self.base_docs)
        elif args.workload == "extract-giant-tail":
            self.docs = corpora.giant_tail(args.seed)
        else:
            self.docs = corpora.mixed(args.seed)
        self.corpus = str(work / "corpus")
        self.phases: dict[str, float] = {"generate": time.perf_counter() - self.t_start}

    # -- set-up ---------------------------------------------------------
    def _wave_base_state(self) -> Path:
        """Committed epoch-0 state for the wave, built once per checkout
        and source tree (it depends on neither --seed nor the run)."""
        from perfbench import corpora, harness
        from article_extractor_spark.pipeline import run_pipeline_wave

        key = hashlib.sha256(
            (_source_sha() + corpora.corpus_hash(self.base_docs)).encode()
        ).hexdigest()[:16]
        cache = STATE / "cache" / f"wave-base-{key}"
        if cache.is_dir():
            return cache
        spark = harness.session(self.work, self.cores)
        try:
            base_corpus = str(self.work / "base-corpus")
            harness.write_corpus(spark, self.base_docs, base_corpus)
            building = self.work / "base-state"
            manifest = run_pipeline_wave(spark, base_corpus, str(building))
            if manifest.get("epoch") != 0:
                raise RuntimeError(f"epoch-0 seed committed {manifest}")
        finally:
            spark.stop()
        cache.parent.mkdir(parents=True, exist_ok=True)
        try:
            os.rename(building, cache)
        except OSError:
            if not cache.is_dir():
                raise
        return cache

    def setup(self) -> float:
        from perfbench import harness

        if self.args.workload == "wave-incremental":
            self.base_state = self._wave_base_state()
        self.spark, seconds = harness.setup(self.work, self.cores, self.docs)
        harness.write_corpus(self.spark, self.docs, self.corpus)
        return seconds

    # -- timed repetitions ----------------------------------------------
    def rep(self, i: int, tracer=None) -> dict:
        from perfbench import harness
        from article_extractor_spark import job as job_mod
        from article_extractor_spark.pipeline import run_pipeline_wave

        if self.args.workload == "wave-incremental":
            out = self.work / f"pipe-{i}"
            shutil.copytree(self.base_state, out)
            table = str(out / "epochs" / "1" / "extracted")
        else:
            out = self.work / f"out-{i}"
            table = str(out)
        with harness.WorkerRss(harness.jvm_pid(self.spark)) as rss:
            t0 = time.perf_counter()
            if self.args.workload == "wave-incremental":
                span = tracer.open("pipeline.wave") if tracer else None
                manifest = run_pipeline_wave(self.spark, self.corpus, str(out))
                if span:
                    tracer.close(span)
                stats = manifest["extraction"]
            else:
                manifest = None
                stats = job_mod.run_extraction_job(self.spark, self.corpus, str(out), run_id=f"rep-{i}")
            wall = time.perf_counter() - t0
        return {
            "wall": wall,
            "docs": stats["docs_processed"],
            "docs_failed": stats["docs_failed"],
            "rss_mb": rss.peak / 1e6,
            "table": table,
            "out": out,
            "manifest": manifest,
        }

    def timed(self, max_reps: int | None = None, tracer=None) -> None:
        t0 = time.perf_counter()
        while True:
            r = self.rep(len(self.reps), tracer)
            self.reps.append(r)
            now = time.perf_counter()
            if now - t0 >= self.args.seconds or (max_reps and len(self.reps) >= max_reps):
                break
            if now - self.t_start + r["wall"] > DEADLINE_S:
                break

    # -- correctness ----------------------------------------------------
    def check(self) -> tuple[int, int, list[str]]:
        from perfbench import checks

        attempted = failed = 0
        notes = []
        for r in self.reps:
            bad, sample = checks.span_failures(r["table"], self.docs)
            n = len(self.docs)
            attempted += n
            failed += bad
            if bad:
                notes.append(f"{r['out'].name}: {bad} docs differ from expected spans, e.g. {sample}")
            if r["manifest"] is not None:
                if r["manifest"].get("epoch") != 1:
                    failed += n
                    notes.append(f"{r['out'].name}: committed epoch {r['manifest'].get('epoch')}, not 1")
                kept = checks.kept_duplicates(str(r["out"] / "epochs" / "1" / "verdicts"), self.dup_ids)
                failed += kept
                if kept:
                    notes.append(f"{r['out'].name}: {kept} planted duplicates kept")
        return attempted, failed, notes

    # -- metrics --------------------------------------------------------
    def end_to_end(self, setup_s: float) -> dict:
        attempted = sum(len(self.docs) for _ in self.reps)
        return {
            "docs_per_s": statistics.median(r["docs"] / r["wall"] for r in self.reps),
            "setup_s": setup_s,
            "ok_ratio": 1.0 - sum(r["docs_failed"] for r in self.reps) / attempted,
            "worker_peak_rss_mb": max(r["rss_mb"] for r in self.reps),
        }

    def traced(self, tracer) -> tuple[dict, bool]:
        """One traced repetition, then the ladder and the kernel phases."""
        from perfbench import checks, harness, layers

        probe = layers.JobProbe(tracer, self.spark)
        group = f"perfbench-{self.args.workload}"
        self.spark.sparkContext.setJobGroup(group, "perfbench traced repetition")
        probe.install()
        try:
            self.timed(max_reps=1, tracer=tracer)
        finally:
            tracer.restore()
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        r = self.reps[0]
        m = {"trace.docs_per_s": r["docs"] / r["wall"]}
        m.update(layers.span_metrics(tracer))
        m.update(harness.job_counters(self.spark, group))
        files, mb = harness.output_stats(r["table"])
        m["tableio.output_files"] = files
        m["tableio.output_mb"] = mb
        us = checks.read_columns(r["table"], ["proc_us"])["proc_us"]
        m["extract.doc_p50_us"] = layers.quantile(us, 0.5)
        m["extract.doc_p99_us"] = layers.quantile(us, 0.99)
        manifest = r["manifest"]
        if manifest is not None:
            curation = manifest["curation"]
            m["pipeline.kept_ratio"] = manifest["kept_docs"] / max(1, r["docs"])
            m["pipeline.dup_hits"] = curation.get("exact_dup", 0)
        else:
            m["pipeline.kept_ratio"] = 0.0
            m["pipeline.dup_hits"] = 0
        m.update(layers.ladder(self.spark, self.corpus, str(self.work / "ladder-out"), probe.stage_conf))
        kernel, identical = layers.kernel_phases(self.docs, tracer)
        m.update(kernel)
        return m, identical

    def provenance(self) -> dict:
        import pyarrow
        import pyspark

        from perfbench import corpora

        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "git_commit": _git_commit(),
            "source_sha": _source_sha(),
            "nproc": os.cpu_count(),
            "cores_used": self.cores,
            "master": self.spark.sparkContext.master,
            "python": sys.version.split()[0],
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "corpus_sha": corpora.corpus_hash(self.docs),
            **corpora.size_stats(self.docs),
            "planted_dups": len(self.dup_ids),
            "reps": len(self.reps),
            "rep_wall_s": [round(r["wall"], 4) for r in self.reps],
            "run_phases_s": {k: round(v, 2) for k, v in self.phases.items()},
            "timestamp": datetime.now(timezone.utc).isoformat(timespec="seconds"),
            "comparable_to": "runs of this benchmark on the same core count only; "
            "the BENCH_r0x records (bench.py, 32 cores) are not comparable",
        }


def _metrics(values: dict, units: dict) -> dict:
    return {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    sys.path[0] = str(ROOT)
    try:
        import article_extractor_spark  # noqa: F401
        import perfbench  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {ROOT}: {exc}", file=sys.stderr)
        return 2

    work = STATE / "work" / f"{args.workload}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # keep the JVM, its Python workers and the package zip inside the checkout
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    tempfile.tempdir = str(tmp)

    from perfbench import harness
    from perfbench.tracing import Tracer

    run = None
    try:
        run = Run(args, len(os.sched_getaffinity(0)), work)
        mark = time.perf_counter()
        setup_s = run.setup()
        run.phases["setup"] = time.perf_counter() - mark
        mark = time.perf_counter()
        if args.trace:
            tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
            metrics, identical = run.traced(tracer)
            units = PER_LAYER
            traces = STATE / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            tracer.dump(traces / f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl")
        else:
            run.timed()
            metrics, identical = run.end_to_end(setup_s), True
            units = END_TO_END
        run.phases["measure"] = time.perf_counter() - mark
        mark = time.perf_counter()
        attempted, failed, notes = run.check()
        run.phases["check"] = time.perf_counter() - mark
        if not identical:
            failed += 1
            notes.append("wrapped kernel output differs from the plain kernel output")
        prov = run.provenance()
    finally:
        if run is not None:
            harness.shutdown(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    for note in notes:
        print(f"perfbench: FAILED {note}", file=sys.stderr)
    print(json.dumps({"provenance": prov}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": _metrics(metrics, units),
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
