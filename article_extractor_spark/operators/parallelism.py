"""Parallelism floor for CPU-bound Arrow stages.

Parquet splits are sized by COMPRESSED bytes, and compressible web
text hides ~50x its IO in extraction CPU — a 6 MB file holding 500k
documents plans 2 scan partitions and strands 30 of 32 cores for the
whole stage.  ``ensure_compute_parallelism`` re-spreads the pruned
input round-robin when (and only when) the planned partition count is
below the cluster's parallelism: the shuffle moves each payload ONCE
and is amortized many times over by the per-row parse/extract CPU it
unlocks (measured 130.8 s -> 13.4 s for extract_spans_full over 500k
docs on local[32]).

On a production-scale corpus the scan already has >= cores partitions
and this is a no-op — no Exchange enters the plan.  The batch job
path instead sizes scan partitions via spark.sql.files
.maxPartitionBytes (job.py), which avoids even the one shuffle; this
floor covers direct operator use where the session conf is not ours
to set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Waves of tasks per core after a re-spread: fine-grained enough that
# one slow partition cannot stall the stage, coarse enough that Arrow
# batching stays efficient.
_WAVES = 4

# Minimum compressed bytes a re-spread task should carry.  A Python
# task has a fixed cost of ~100 ms of scheduling plus worker setup: an
# identity mapInArrow over 32 partitions takes ~0.8 s on local[4]
# (~2.2 s, ~270 ms a task, before shipping.guard_zipimport_invalidation
# stopped reused workers re-reading pyspark.zip per task); on a small
# table the full
# cores*_WAVES width is all overhead (measured +0.84 s at 128 tasks vs
# +0.27 s at 32 on a sub-second query over a 6 MB table), and
# ITERATIVE consumers (PageRank, connected components, k-means) pay
# the width again every iteration.  A byte-sized width keeps the floor
# at exactly ``cores`` for small inputs and full width for big ones.
_TARGET_BYTES_PER_TASK = 2 << 20


# Rows a re-spread task should carry at minimum: compressed bytes
# UNDERSTATE work on compressible text (the very problem the floor
# exists for — 500k synthetic docs fit 6 MB), so task demand is the
# max of the byte and the row estimate.
_TARGET_ROWS_PER_TASK = 8192

# The table-level floor only engages when the table holds enough work
# to fill at least half the cluster in task-sized units.  Below that
# the whole table is a few seconds of CPU, the fixed shuffle +
# task-launch cost is the bigger term, and measured sf0.1 bench deltas
# are a wash (wins ≈ losses) with an asymmetric regression ledger.
# The floor targets the MIDDLE regime — a compressed-byte-starved scan
# planning < cores splits while hiding minutes of per-row CPU; at true
# production scale the scan is already wide and the floor is a no-op.
# Operator-side callers (extraction/pdf/dispatch Arrow stages) pass no
# size hints and keep the unconditional floor: their per-row CPU is
# known-heavy.


# (cache_key, applicationId) -> respread width (0 = no floor needed);
# planning the RDD to count partitions costs ~100 ms, so per-path
# decisions are memoized for repeated load() calls inside one session.
# Callers fold a DATA fingerprint (table_fingerprint) into cache_key —
# a bare path would keep a stale width after the table is rewritten at
# the same location (scale-up replication or test fixtures regenerating
# /tmp corpora mid-session, review r4).
_FLOOR_WIDTH: dict[tuple[str, str], int] = {}


def table_fingerprint(path: str) -> str:
    """Cheap stat signature (per-file mtime+size) of a parquet table —
    the memo-key component that invalidates ``_FLOOR_WIDTH`` entries
    when a table is rewritten in place, and the data tag of queries.py's
    ``_layout_cache_path``."""
    import os

    try:
        if os.path.isdir(path):
            parts = sorted(
                e for e in os.listdir(path) if e.endswith(".parquet")
            )
            return ";".join(
                f"{e}:{os.path.getmtime(os.path.join(path, e))}"
                f":{os.path.getsize(os.path.join(path, e))}"
                for e in parts
            )
        return f"{os.path.getmtime(path)}:{os.path.getsize(path)}"
    except OSError:
        return "unstat-able"


def _width(
    cores: int, size_bytes: int | None, rows: int | None = None
) -> int:
    if size_bytes is None and rows is None:
        return cores * _WAVES
    by_bytes = (
        -(-size_bytes // _TARGET_BYTES_PER_TASK) if size_bytes else 0
    )
    by_rows = -(-rows // _TARGET_ROWS_PER_TASK) if rows else 0
    tasks = max(by_bytes, by_rows)
    if tasks < cores // 2:
        return 0
    return max(cores, min(cores * _WAVES, int(tasks)))


def ensure_compute_parallelism(
    df: DataFrame,
    cache_key: str | None = None,
    size_bytes: int | None = None,
    rows: int | None = None,
) -> DataFrame:
    """Round-robin ``df`` across the cluster when its planned partition
    count is below ``defaultParallelism``; identity otherwise.  Call on
    the PRUNED projection feeding a CPU-bound ``mapInArrow`` stage, so
    only consumed columns cross the shuffle.  Pass ``size_bytes`` /
    ``rows`` (compressed on-disk size, parquet-footer row count) when
    known so the re-spread width is sized to the data — and skipped
    when the table is too small to repay the shuffle — instead of the
    unconditional full cores*_WAVES fan."""
    if df.isStreaming:
        # Streaming plans cannot be inspected via .rdd, and micro-batch
        # parallelism is governed by the source (maxFilesPerTrigger /
        # file-split sizing), not by a static floor.
        return df
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    if cache_key is not None:
        key = (cache_key, sc.applicationId)
        width = _FLOOR_WIDTH.get(key)
        if width is None:
            width = (
                _width(cores, size_bytes, rows)
                if df.rdd.getNumPartitions() < cores
                else 0
            )
            _FLOOR_WIDTH[key] = width
    else:
        width = (
            _width(cores, size_bytes, rows)
            if df.rdd.getNumPartitions() < cores
            else 0
        )
    if width:
        return df.repartition(width)
    return df
