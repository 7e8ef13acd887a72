"""Spark-side plumbing for the benchmark: session set-up, input tables,
worker memory sampling, job-group counters and a clean shutdown.

Everything talks to the package through its public entry points
(``session.build_session``, ``sources.tableio``,
``operators.extraction``); nothing here reaches into its internals.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from article_extractor_spark.operators.extraction import SPAN_TYPE, extract_articles
from article_extractor_spark.session import build_session
from article_extractor_spark.sources import tableio

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
    ]
)
_ARROW_SPANS = pa.list_(
    pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
    )
)
WARM_DOCS = 8


def session(work: Path, cores: int) -> SparkSession:
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    spark = build_session(
        app_name="perfbench",
        cores=cores,
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # caps the driver JVM on a shared machine; these inputs need far less
            "spark.driver.memory": "2g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup(work: Path, cores: int, warm_docs: list[dict]) -> tuple[SparkSession, float]:
    """Start the session up to its first completed extraction, which
    spawns the Python workers and imports the kernel there.  Returns
    the session and the seconds that took."""
    rows = [(d["doc_id"], d["url"], d["html"]) for d in warm_docs[:WARM_DOCS]]
    t0 = time.perf_counter()
    spark = session(work, cores)
    warm = spark.createDataFrame(rows, "doc_id string, url string, html string")
    n = len(extract_articles(warm).select("doc_id", "success").collect())
    seconds = time.perf_counter() - t0
    if n != len(rows):
        raise RuntimeError(f"warm-up extracted {n} of {len(rows)} rows")
    return spark, seconds


def write_corpus(spark: SparkSession, docs: list[dict], path: str) -> None:
    """The input table in the job's corpus shape (doc_id, url, spans),
    bucketed the way ``job synth`` writes it.  The rows reach Spark as
    one staged parquet file rather than through the Python gateway."""
    staging = Path(path + "-staging")
    staging.mkdir(parents=True)
    spans = pa.array(
        [[(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]] for d in docs],
        _ARROW_SPANS,
    )
    table = pa.table(
        {"doc_id": [d["doc_id"] for d in docs], "url": [d["url"] for d in docs], "spans": spans}
    )
    pq.write_table(table, staging / "part-0.parquet")
    df = tableio.with_bucket(spark.read.schema(CORPUS_SCHEMA).parquet(str(staging)))
    tableio.write_bucketed(df, path, dynamic=False)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _python_rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if not fh.read().startswith("python"):
                    continue
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


def jvm_pid(spark: SparkSession) -> int:
    return spark.sparkContext._gateway.proc.pid


class WorkerRss:
    """Peak summed RSS of the JVM's Python worker processes, sampled
    every ``interval`` seconds on a background thread while running."""

    def __init__(self, pid: int, interval: float = 0.05):
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _python_rss_bytes(descendants(self.pid)))
            self._stop.wait(self.interval)

    def __enter__(self) -> WorkerRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def job_counters(spark: SparkSession, group: str) -> dict:
    """Jobs, stages, tasks and failed tasks the status tracker recorded
    under ``group``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    tasks = failed = 0
    for sid in stages:
        info = tracker.getStageInfo(sid)
        if info is not None:
            tasks += info.numTasks
            failed += info.numFailedTasks
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": tasks,
        "spark.failed_tasks": failed,
    }


def output_stats(path: str) -> tuple[int, float]:
    """(parquet data files, MB) under a written table."""
    files, size = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size / 1e6


def shutdown(spark: SparkSession | None, timeout: float = 30.0) -> None:
    """Stop the session and the JVM, then wait until the JVM and every
    Python worker it spawned have exited."""
    if spark is None:
        return
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    kids = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + timeout
    for pid in kids:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting reaping."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2 :].split()[0] != b"Z"
