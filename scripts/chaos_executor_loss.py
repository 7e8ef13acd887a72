"""Executor-LOSS chaos drill (VERDICT r4 task #2): kill an executor
JVM (not a task) mid-wave under a multi-JVM ``local-cluster`` master
and prove the job converges to the undisturbed result.

Protocol:
1. clean run of the extraction job under ``local-cluster[2,C,M]`` —
   the reference output table;
2. chaos run on a fresh session: start the same job in a thread, wait
   for the extraction wave to be in flight, then ``SIGKILL`` one
   ``CoarseGrainedExecutorBackend`` JVM of THIS app;
3. assert the job still completes (Spark re-runs the lost tasks on the
   surviving/replacement executor; partial task files die in the
   committer's _temporary dir), each bucket committed by exactly one
   bucket snapshot, and the output table is row-identical (doc_id + span hash)
   to the clean run.

Prints one ``RESULT {json}`` line; ``SKIP reason`` if no cluster
master can be built here.  Invoked by tests/test_cluster.py.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

N_DOCS = int(os.environ.get("CHAOS_DOCS", "20000"))
MASTER = os.environ.get("CHAOS_MASTER", "local-cluster[2,2,2048]")


def executor_pids(app_id: str) -> list[int]:
    """PIDs of this app's executor JVMs (children of the standalone
    Worker, cmdline carries CoarseGrainedExecutorBackend + the app id).
    """
    try:
        out = subprocess.run(
            ["pgrep", "-f", "CoarseGrainedExecutorBackend"],
            capture_output=True,
            text=True,
        ).stdout
    except OSError:
        return []
    pids = []
    for line in out.split():
        pid = int(line)
        try:
            cmdline = Path(f"/proc/{pid}/cmdline").read_bytes().decode(
                "utf-8", "replace"
            )
        except OSError:
            continue
        if app_id in cmdline:
            pids.append(pid)
    return pids


def span_hashes(spark, path):
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(path)
        .select("doc_id", F.xxhash64(F.to_json("spans")).alias("h"))
    )


def main() -> int:
    from article_extractor_spark.job import run_extraction_job
    from article_extractor_spark.session import build_session
    from article_extractor_spark.sources import tableio
    from article_extractor_spark.sources.synth import corpus_dataframe

    workdir = tempfile.mkdtemp(prefix="aes-chaos-")
    corpus = f"{workdir}/corpus"
    try:
        try:
            spark = build_session(app_name="chaos-clean", master=MASTER)
        except Exception as exc:  # pragma: no cover - env-dependent
            print(f"SKIP cannot build {MASTER}: {exc}")
            return 0

        df = corpus_dataframe(spark, N_DOCS, seed=13)
        df = tableio.with_bucket(df, "doc_id", tableio.DEFAULT_BUCKETS)
        tableio.write_bucketed(df, corpus, dynamic=False)

        t0 = time.time()
        clean_stats = run_extraction_job(
            spark,
            corpus,
            f"{workdir}/out-clean",
            run_id="chaos-clean",
            waves=2,
            min_word_count=10,
        )
        clean_wall = time.time() - t0
        clean = {
            tuple(r)
            for r in span_hashes(spark, f"{workdir}/out-clean").collect()
        }
        spark.stop()
        time.sleep(2)  # let the old master/worker daemons unbind

        spark = build_session(app_name="chaos-kill", master=MASTER)
        app_id = spark.sparkContext.applicationId
        job_result: dict = {}

        def run_job():
            try:
                job_result["stats"] = run_extraction_job(
                    spark,
                    corpus,
                    f"{workdir}/out-chaos",
                    run_id="chaos-kill",
                    waves=2,
                    min_word_count=10,
                )
            except Exception as exc:  # noqa: BLE001 - recorded for the report
                job_result["error"] = repr(exc)

        th = threading.Thread(target=run_job)
        th.start()
        # kill one executor JVM once the wave is genuinely in flight
        # (~1/4 of the clean wall puts us inside wave 0's map stage)
        time.sleep(max(2.0, clean_wall / 4))
        victims = executor_pids(app_id)
        killed = None
        if victims:
            killed = victims[0]
            os.kill(killed, signal.SIGKILL)
        th.join(timeout=600)
        alive = th.is_alive()

        chaos = {
            tuple(r)
            for r in span_hashes(spark, f"{workdir}/out-chaos").collect()
        }
        # a bucket's commits: the snapshots, oldest first, in which its
        # entry appears or changes
        lineage = Path(tableio.lineage_path(f"{workdir}/out-chaos"))
        commits: dict[int, int] = {}
        prev: dict[int, dict] = {}
        for snap in sorted(lineage.glob("[0-9]*.json")):
            body = json.loads(snap.read_text())
            cur = {e["bucket"]: e for e in body["buckets"]}
            for b, entry in cur.items():
                if prev.get(b) != entry:
                    commits[b] = commits.get(b, 0) + 1
            prev = cur
        double_commits = sum(1 for n in commits.values() if n > 1)
        lineage_docs = sum(e["docs_in"] for e in prev.values())
        result = {
            "ok": (
                not alive
                and "stats" in job_result
                and killed is not None
                and chaos == clean
                and double_commits == 0
                and lineage_docs == N_DOCS
                and job_result["stats"]["docs_processed"] == N_DOCS
            ),
            "docs": N_DOCS,
            "master": MASTER,
            "killed_executor_pid": killed,
            "executors_seen": len(victims),
            "job_error": job_result.get("error"),
            "job_hung": alive,
            "rows_clean": len(clean),
            "rows_chaos": len(chaos),
            "rows_equal": chaos == clean,
            "double_commits": double_commits,
            "lineage_docs": lineage_docs,
        }
        print("RESULT " + json.dumps(result))
        spark.stop()
        return 0 if result["ok"] else 1
    finally:
        import shutil

        shutil.rmtree(workdir, ignore_errors=True)


def main_wave() -> int:
    """Executor loss during the WAVE-INCREMENTAL pipeline (task #2
    composed with task #3): wave 1 commits cleanly as epoch 0, then an
    executor JVM is SIGKILLed while wave 2 runs its state-probing
    funnel — epoch 1 must still commit exactly once with outputs
    row-identical to an undisturbed two-wave run."""
    from pyspark.sql import functions as F

    from article_extractor_spark.pipeline import (
        committed_epochs,
        run_pipeline_wave,
    )
    from article_extractor_spark.session import build_session
    from article_extractor_spark.sources import tableio
    from article_extractor_spark.sources.synth import corpus_dataframe

    workdir = tempfile.mkdtemp(prefix="aes-chaos-wave-")
    try:
        try:
            spark = build_session(app_name="chaos-wave-clean", master=MASTER)
        except Exception as exc:  # pragma: no cover - env-dependent
            print(f"SKIP cannot build {MASTER}: {exc}")
            return 0

        w1 = f"{workdir}/w1"
        w2 = f"{workdir}/w2"
        df = corpus_dataframe(spark, N_DOCS, seed=13)
        tableio.write_bucketed(
            tableio.with_bucket(df, "doc_id"), w1, dynamic=False
        )
        df2 = corpus_dataframe(spark, N_DOCS // 2, seed=29).withColumn(
            "doc_id", F.concat(F.lit("w2-"), F.col("doc_id"))
        )
        tableio.write_bucketed(
            tableio.with_bucket(df2, "doc_id"), w2, dynamic=False
        )

        def epoch_rows(out, epoch):
            rows = {}
            for name in ("verdicts", "pack", "examples"):
                rows[name] = {
                    tuple(r)
                    for r in spark.read.parquet(
                        f"{out}/epochs/{epoch}/{name}"
                    ).collect()
                }
            return rows

        clean_out = f"{workdir}/out-clean"
        run_pipeline_wave(spark, w1, clean_out, min_word_count=10)
        t0 = time.time()
        run_pipeline_wave(spark, w2, clean_out, min_word_count=10)
        wave2_wall = time.time() - t0
        clean_rows = epoch_rows(clean_out, 1)
        spark.stop()
        time.sleep(2)

        spark = build_session(app_name="chaos-wave-kill", master=MASTER)
        app_id = spark.sparkContext.applicationId
        chaos_out = f"{workdir}/out-chaos"
        run_pipeline_wave(spark, w1, chaos_out, min_word_count=10)
        result_box: dict = {}

        def run_wave2():
            try:
                result_box["manifest"] = run_pipeline_wave(
                    spark, w2, chaos_out, min_word_count=10
                )
            except Exception as exc:  # noqa: BLE001 - recorded
                result_box["error"] = repr(exc)

        th = threading.Thread(target=run_wave2)
        th.start()
        time.sleep(max(2.0, wave2_wall / 3))
        victims = executor_pids(app_id)
        killed = victims[0] if victims else None
        if killed:
            os.kill(killed, signal.SIGKILL)
        th.join(timeout=600)
        alive = th.is_alive()

        chaos_rows = epoch_rows(chaos_out, 1)
        epochs = committed_epochs(spark, chaos_out)
        result = {
            "mode": "wave-pipeline",
            "ok": (
                not alive
                and "manifest" in result_box
                and killed is not None
                and epochs == [0, 1]
                and chaos_rows == clean_rows
            ),
            "master": MASTER,
            "killed_executor_pid": killed,
            "job_error": result_box.get("error"),
            "job_hung": alive,
            "epochs": epochs,
            "rows_equal": chaos_rows == clean_rows,
            "epoch1_kept": result_box.get("manifest", {}).get("kept_docs"),
        }
        print("RESULT " + json.dumps(result))
        spark.stop()
        return 0 if result["ok"] else 1
    finally:
        import shutil

        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(
        main_wave() if os.environ.get("CHAOS_MODE") == "wave" else main()
    )
