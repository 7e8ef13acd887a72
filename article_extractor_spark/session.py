"""SparkSession factory with scale-oriented defaults.

One place to encode the engine's Spark configuration so tests, bench,
the spark-submit job, and the driver entry all run the same plan:

- AQE on (runtime shuffle coalescing + skew-join splitting),
- Arrow execution on with a small ``maxRecordsPerBatch`` — each corpus
  row carries a whole document, so giant-doc rows must not blow the
  Python worker's batch memory (SURVEY.md §4 item 1),
- shuffle partitions sized to the local core count (on a real cluster
  AQE coalesces; locally this avoids 200-partition overhead).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Rows per Arrow batch entering mapInArrow.  Documents average tens of
# KB (golden corpus raw.html up to ~400 KB); 256 rows ≈ tens of MB per
# batch, safely inside executor-python memory even with skewed docs.
ARROW_BATCH_ROWS = 256


def _parse_local_cluster(master: str) -> tuple[int, int, int] | None:
    """(n_executors, cores_per_executor, mem_mb) from a
    ``local-cluster[n,c,m]`` master string, else None."""
    if not master.startswith("local-cluster["):
        return None
    inner = master[len("local-cluster[") : master.rindex("]")]
    n, c, m = (int(x.strip()) for x in inner.split(","))
    return n, c, m


def wait_for_executors(
    spark: SparkSession, n_executors: int, timeout_sec: float = 120.0
) -> int:
    """Block until ``n_executors`` executor JVMs have registered.

    Multi-JVM masters (local-cluster, standalone) register executors
    ASYNCHRONOUSLY after the session builds, and until they do,
    ``sc.defaultParallelism`` reads 2 — every piece of code that sizes
    scans/shuffles off core count (the job's maxPartitionBytes targeting,
    the compute-parallelism floor) would mis-plan the first stages.
    Returns the registered executor count (excluding the driver)."""
    import time

    sc = spark.sparkContext
    deadline = time.time() + timeout_sec
    while True:
        infos = sc._jsc.sc().statusTracker().getExecutorInfos()
        # getExecutorInfos includes the driver as one entry
        n = len(infos) - 1
        if n >= n_executors or time.time() > deadline:
            return n
        time.sleep(0.2)


def build_session(
    app_name: str = "article-extractor-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """``master`` overrides the default ``local[cores]`` (also settable
    via $SPARK_GRAFT_MASTER) — e.g. ``local-cluster[4,8,4096]`` runs 4
    separate executor JVMs of 8 cores, the in-box way to exercise real
    serialized shuffles, per-executor broadcasts, and executor loss.
    For local-cluster masters the executor memory is set from the
    master string and the call blocks until all executors register."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or None
    if master is None:
        # under spark-submit the master arrives as a JVM system
        # property — honor it instead of overriding with local[cores]
        # (a submitted `--master local-cluster[...]`/standalone URL
        # must win, or the deployment silently runs single-JVM)
        from pyspark import SparkConf

        try:
            master = SparkConf().get("spark.master", None)
        except Exception:  # pragma: no cover - no JVM props available
            master = None
    lc = _parse_local_cluster(master) if master else None
    if cores is None:
        if lc:
            cores = lc[0] * lc[1]
        elif master and master.startswith("local[") and master[6:-1].isdigit():
            cores = int(master[6:-1])
        else:
            cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (
                os.cpu_count() or 8
            )
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("AES_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if lc:
        builder = builder.config("spark.executor.memory", f"{lc[2]}m")
        # Each executor JVM must size its runtime thread pools (GC,
        # JIT, netty) for ITS core budget, not the whole box: without
        # this, 4 executor JVMs on one machine each spawn 32-CPU-sized
        # pools and thrash the shared cores (measured: 46.4 -> 40.6 s
        # on the 240k-doc wave at local-cluster[4,2,4096]).  A real
        # c-core container/node reports c processors natively — this
        # reproduces that.
        builder = builder.config(
            "spark.executor.extraJavaOptions",
            f"-XX:ActiveProcessorCount={lc[1]}",
        )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    session = builder.getOrCreate()
    if lc:
        wait_for_executors(session, lc[0])
    return session
