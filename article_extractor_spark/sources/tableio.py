"""Bucketed table IO + per-bucket lineage (checkpoint/resume).

Iceberg-shaped layout emulated on Parquet (no Iceberg runtime jar in
this sandbox — SURVEY.md §7.0): tables are physically partitioned by
``bucket = pmod(xxhash64(doc_id), N)``, the same co-location Iceberg's
``bucket(N, doc_id)`` transform gives.  Call sites are written so that
swapping ``.format("parquet")`` for ``.format("iceberg")`` +
``PARTITIONED BY (bucket(N, doc_id))`` is a local change.

Commits go through one snapshot log (``latest_snapshot``,
``commit_snapshot``), shared with the wave state: the job's
``lineage_path(out)/<seq>.json`` lists each committed bucket's metrics
and the frozen ``n_buckets``; resume skips the buckets the latest
snapshot lists (SURVEY.md §4 item 5).
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.sketches import HLL_M, hll_rho

DEFAULT_BUCKETS = 32

# Parquet row-group target for bucketed writes.  A byte-range scan
# split beyond the row-group count comes up EMPTY (a task reads the
# row groups whose midpoint falls in its range), so a bucket file
# written as ONE giant row group caps every downstream scan at one
# task per file no matter how small maxPartitionBytes is set —
# measured: a 240k-doc corpus written as 32 single-group files ran the
# whole fused extraction wave as 32 coarse tasks, turning the 32-core
# stage into a single straggler-bound round and capping 8→32 scaling
# at ~0.43.  4 MiB groups give scans row-group-granular split points
# so task width is actually governed by maxPartitionBytes.  This is
# the knob Iceberg exposes as ``write.parquet.row-group-size-bytes``
# (its 128 MiB default with 512 MiB target files keeps the same
# several-groups-per-file ratio at production scale).
ROW_GROUP_BYTES = 4 << 20

# Field order of a bucket's lineage entry (``lineage_and_registers``).
LINEAGE_FIELDS = (
    "run_id",
    "bucket",
    "doc_id_min",
    "doc_id_max",
    "docs_in",
    "docs_ok",
    "parse_failures",
    "nodes_scored",
    "spans_emitted",
    "cpu_ms",
    "committed_at",
)


def with_bucket(
    df: DataFrame, id_col: str = "doc_id", n_buckets: int = DEFAULT_BUCKETS
) -> DataFrame:
    """Stable bucket assignment on the document key (Iceberg
    bucket-transform emulation).

    Hashes the STRING CAST of the id (``string_bucket_expr``), so a
    corpus with a natively-numeric id gets the same bucket its
    extraction output re-derives from the stringified id — hashing the
    native type decorrelated wave buckets from output buckets and
    corrupted per-wave lineage counts (ADVICE r4).  For string ids the
    cast is a no-op."""
    return df.withColumn("bucket", string_bucket_expr(n_buckets, id_col))


def write_bucketed(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    dynamic: bool = True,
    files_per_bucket: int = 1,
    n_buckets: int = DEFAULT_BUCKETS,
    preshuffled: bool = False,
) -> None:
    """Write a table partitioned by ``bucket``.

    ``dynamic=True`` only rewrites the bucket directories present in
    ``df`` (partitionOverwriteMode=dynamic) — the resume path re-writes
    only uncommitted buckets.

    The frame is re-shuffled onto the bucket key first so each bucket
    directory gets ``files_per_bucket`` files instead of one file per
    upstream task (without this, N_tasks × N_buckets small files make
    the driver-side dynamic-overwrite commit the job bottleneck —
    measured: it erased all >8-core scaling at 240k docs).

    ``preshuffled=True`` skips that exchange: the caller asserts its
    task layout is already (near-)aligned with the bucket key — true
    for any narrow pipeline over a scan of a bucket-partitioned table,
    where each split lies inside one ``bucket=k`` directory.  Then the
    clustered write needs no distribution (Iceberg's
    ``write.distribution-mode=none`` for a write whose input is
    already clustered): total file count is bounded by the number of
    scan tasks (+1 per rare split that bin-packed across two bucket
    dirs), NOT tasks × buckets, and the whole
    scan→render→extract→write pipeline runs as ONE exchange-free
    stage — the extraction job's hot path no longer re-serializes
    every output byte through a shuffle (measured: the repartition
    write added a ~flat-with-cores stage that Amdahl-capped 8→32
    scaling at 240k docs).

    ``files_per_bucket > 1`` adds a doc_id-derived salt to the
    repartition key: hashing on the bucket value alone puts each
    bucket's rows in exactly one task regardless of the partition
    count, so without the salt a bucket could never produce more than
    one file (and hash collisions could fold several buckets into one
    straggler task).
    """
    files_per_bucket = max(files_per_bucket, 1)
    if preshuffled:
        writer = df.write.mode(mode).option(
            "parquet.block.size", str(ROW_GROUP_BYTES)
        )
        if dynamic:
            writer = writer.option("partitionOverwriteMode", "dynamic")
        writer.partitionBy("bucket").parquet(path)
        return
    if files_per_bucket > 1 and "doc_id" in df.columns:
        # salt must be decorrelated from the bucket hash — bucket is
        # pmod(xxhash64(doc_id), N), so a bare xxhash64(doc_id) salt is
        # a function of the bucket for N | files_per_bucket; the extra
        # literal input gives an independent hash
        salt = F.pmod(
            F.xxhash64(F.col("doc_id"), F.lit("file-salt")),
            F.lit(files_per_bucket),
        )
        df = df.repartition(
            files_per_bucket * n_buckets, F.col("bucket"), salt
        )
    else:
        df = df.repartition(n_buckets, "bucket")
    writer = df.write.mode(mode).option(
        "parquet.block.size", str(ROW_GROUP_BYTES)
    )
    if dynamic:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.partitionBy("bucket").parquet(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def string_bucket_expr(n_buckets: int, id_col: str = "doc_id"):
    """Bucket of the STRING CAST of the id — the exact expression the
    extraction output re-derives its bucket with (job.py), so a corpus
    bucketed through this expression stays correlated with its output
    buckets even when ``doc_id`` is natively numeric (xxhash64 of a
    long differs from xxhash64 of its decimal string — ADVICE r4)."""
    return F.pmod(
        F.xxhash64(F.col(id_col).cast("string")), F.lit(n_buckets)
    ).cast("int")


def hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop ``Path``, its ``FileSystem``) for ``path``, any FS."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


def has_bucket_dirs(spark: SparkSession, path: str, n_buckets: int) -> bool:
    """True when ``path`` is physically laid out as ``bucket=k``
    partition directories (driver-side FS metadata glob).  A table with
    a plain ``bucket`` DATA column in unpartitioned files also exposes
    the column after read, but its task splits span buckets — the
    preshuffled write is only safe against the directory layout."""
    jpath, fs = hadoop_fs(spark, path.rstrip("/") + "/bucket=*")
    try:
        statuses = fs.globStatus(jpath)
    except Exception:  # pragma: no cover - FS-specific glob failures
        return False
    if statuses is None:
        return False
    dirs = [s for s in statuses if s.isDirectory()]
    return 0 < len(dirs) <= n_buckets


def bucket_sample_aligned(
    df: DataFrame,
    n_buckets: int,
    id_col: str = "doc_id",
    sample_rows: int = 128,
) -> bool:
    """Cheap probabilistic check that ``df.bucket`` equals
    ``pmod(xxhash64(CAST(id AS STRING)), n_buckets)`` — the invariant
    the job's wave/lineage protocol and the preshuffled write both rest
    on.  Every failure mode this guards against (corpus bucketed with a
    different n_buckets, bucketed on a non-string id hash, or an
    arbitrary foreign bucket column) is SYSTEMATIC — each sampled row
    mismatches with probability ~(N-1)/N — so a first-rows sample of
    128 misses a misalignment with probability ~N^-128.  Cost: one
    CollectLimit job over (id, bucket), a few row groups of one file:
    the comparison runs below the limit, so Spark scans partitions
    only until it has the sample (a filter above the limit would
    first gather every partition's first rows through an exchange).
    """
    expected = string_bucket_expr(n_buckets, id_col)
    rows = (
        df.select((F.col("bucket") != expected).alias("bad"))
        .limit(sample_rows)
        .collect()
    )
    return not any(r["bad"] for r in rows)


def clear_buckets(spark: SparkSession, path: str, buckets) -> None:
    """Delete the given ``bucket=k`` partition directories (driver-side
    FS metadata calls, FS-agnostic via the Hadoop API).

    This is the cheap half of what ``partitionOverwriteMode=dynamic``
    does — and doing ONLY this lets wave writes be plain appends.  The
    dynamic-overwrite protocol stages every task file and then moves
    each partition directory on the driver at job commit: a fixed,
    core-count-independent cost (measured: +18.5 s on a 240k-doc wave
    on local disk, worse on object stores, where the "move" is a copy)
    that Amdahl-caps job scaling.  The job instead wipes uncommitted
    bucket dirs once up front — a no-op on the happy path, non-empty
    only after a crash — and appends, which commits task files in
    place with no staging move.

    Buckets the latest bucket snapshot lists (a ``resume=False`` run)
    are uncommitted first by one snapshot without them, so a run
    killed mid-wipe resumes by redoing them, not by skipping them."""
    lpath = lineage_path(path)
    seq, snap = latest_snapshot(spark, lpath)
    if snap is not None:
        cleared = {int(b) for b in buckets}
        kept = [e for e in snap["buckets"] if e["bucket"] not in cleared]
        if len(kept) < len(snap["buckets"]):
            commit_snapshot(spark, lpath, seq + 1, {**snap, "buckets": kept})
    jpath, fs = hadoop_fs(spark, path)
    if fs.exists(jpath):
        for b in buckets:
            fs.delete(hadoop_fs(spark, f"{path}/bucket={int(b)}")[0], True)


def has_iceberg(spark: SparkSession) -> bool:
    """Capability probe: True when the Iceberg Spark runtime jar is on
    the session classpath — the real branch activates when the jar is
    dropped in, no code change.

    Probes the JVM for the Spark-runtime entry class rather than
    importing anything Python-side: Iceberg support is a jar, not a
    pip package."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.extensions."
            "IcebergSparkSessionExtensions"
        )
        return True
    except Exception:  # pragma: no cover - environment-dependent
        return False


def write_bucketed_iceberg(
    df: DataFrame,
    table: str,
    *,
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
) -> None:
    """The real-Iceberg twin of ``write_bucketed``: V2 writeTo with a
    native ``bucket(N, doc_id)`` partition transform instead of the
    emulated ``bucket`` directory column.

    Gated on ``has_iceberg`` — this sandbox ships no Iceberg jar
    (SURVEY.md §7.0), so calling it here raises; in an Iceberg-enabled
    session (``--packages org.apache.iceberg:iceberg-spark-runtime-*``
    plus a configured catalog) it creates/replaces the table with the
    same co-location guarantee the emulation provides.  ``table`` is a
    catalog-qualified name (``catalog.db.tbl``), not a path — Iceberg
    owns the layout, so no manual repartition/salting is needed: the
    fanout-on-write distribution mode handles file sizing.
    """
    if not has_iceberg(df.sparkSession):
        raise NotImplementedError(
            "Iceberg runtime jar not on the classpath; the emulated "
            "write_bucketed() Parquet layout is the active path here"
        )
    df.writeTo(table).using("iceberg").partitionedBy(
        F.bucket(n_buckets, F.col(id_col))
    ).createOrReplace()


def read_table_iceberg(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read twin of ``read_table`` (gated like the write)."""
    if not has_iceberg(spark):
        raise NotImplementedError(
            "Iceberg runtime jar not on the classpath"
        )
    return spark.read.table(table)


def lineage_path(output_path: str) -> str:
    return output_path.rstrip("/") + "_lineage"


def dir_size_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under a table path (driver-side FS metadata call)."""
    jpath, fs = hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return 0
    return int(fs.getContentSummary(jpath).getLength())


def latest_snapshot(
    spark: SparkSession, log_dir: str, legacy_glob: str | None = None
) -> tuple[int, dict | None]:
    """(seq, body) of the newest ``<seq>.json`` in the snapshot log
    ``log_dir`` — one listing and one small read, no Spark job; (0,
    None) before the first commit.  An empty log beside files matching
    ``legacy_glob`` (an older commit layout) raises ``ValueError``:
    read as empty, committed work would be redone over itself."""
    # the digit glob skips write_file_atomic's .-temp
    pattern, fs = hadoop_fs(spark, f"{log_dir}/[0-9]*.json")
    seqs = [int(s.getPath().getName()[:-5]) for s in fs.globStatus(pattern)]
    if not seqs:
        if legacy_glob and fs.globStatus(hadoop_fs(spark, legacy_glob)[0]):
            raise ValueError(
                f"{legacy_glob} matches files of an older commit layout "
                f"and {log_dir} holds no snapshot: that layout is not read"
            )
        return 0, None
    seq = max(seqs)
    stream = fs.open(hadoop_fs(spark, f"{log_dir}/{seq:06d}.json")[0])
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return seq, json.loads(text)


def commit_snapshot(
    spark: SparkSession, log_dir: str, seq: int, body: dict
) -> None:
    """Commit ``body`` as snapshot ``seq`` of ``log_dir``: one atomic
    create of ``<seq>.json``, after everything it lists is written."""
    write_file_atomic(
        spark,
        f"{log_dir}/{seq:06d}.json",
        json.dumps(body, sort_keys=True).encode(),
    )


def _bucket_log(
    spark: SparkSession, output_path: str, n_buckets: int | None
) -> tuple[int, dict[int, dict]]:
    """(seq, bucket → lineage entry) of the latest bucket snapshot.
    ``n_buckets`` is frozen by the first commit: another count's bucket
    ids name other documents, so it raises ``ValueError``."""
    lpath = lineage_path(output_path)
    seq, snap = latest_snapshot(spark, lpath, f"{lpath}/part-*.parquet")
    if snap is None:
        return 0, {}
    if n_buckets is not None and snap["n_buckets"] != n_buckets:
        raise ValueError(
            f"n_buckets={n_buckets} differs from n_buckets="
            f"{snap['n_buckets']} committed in {lpath}"
        )
    return seq, {e["bucket"]: e for e in snap["buckets"]}


def read_committed_buckets(
    spark: SparkSession, output_path: str, n_buckets: int | None = None
) -> set[int]:
    """Buckets the latest bucket snapshot lists (any run); no Spark
    job.  With ``n_buckets``, a different committed count raises."""
    return set(_bucket_log(spark, output_path, n_buckets)[1])


def lineage_and_registers(
    readback: DataFrame, run_id: str, item_hash: Column
) -> tuple[list[tuple], dict[int, int]]:
    """One aggregate over a wave's read-back of its written output:
    the per-bucket lineage rows (``LINEAGE_FIELDS`` order) and the
    wave's HLL register maxima over ``item_hash`` (a 60-bit
    ``md5_int`` column).

    ``groupingSets([bucket], [reg])`` runs both groupings as ONE
    codegen'd hash aggregate, and one ``collect()`` returns at most
    n_buckets + ``HLL_M`` rows, told apart by ``grouping_id()``
    (1 = bucket row, reg rolled up; 2 = register row).  A second
    pass over the read-back would pay another job's fixed scheduler
    cost every wave."""
    rows = (
        readback.select(
            "bucket",
            "doc_id",
            "success",
            "nodes_scored",
            "spans_emitted",
            "proc_us",
            item_hash.bitwiseAND(F.lit(HLL_M - 1)).alias("reg"),
            hll_rho(item_hash).alias("rho"),
        )
        .groupingSets([["bucket"], ["reg"]], "bucket", "reg")
        .agg(
            F.grouping_id().alias("gid"),
            F.min("doc_id").alias("doc_id_min"),
            F.max("doc_id").alias("doc_id_max"),
            F.count(F.lit(1)).alias("docs_in"),
            F.sum(F.col("success").cast("long")).alias("docs_ok"),
            F.sum((~F.col("success")).cast("long")).alias("parse_failures"),
            F.sum("nodes_scored").alias("nodes_scored"),
            F.sum("spans_emitted").alias("spans_emitted"),
            (F.sum("proc_us") / 1000).cast("long").alias("cpu_ms"),
            F.max("rho").alias("mx"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("committed_at", F.current_timestamp())
        .select("gid", "reg", "mx", *LINEAGE_FIELDS)
        .collect()
    )
    lineage = [tuple(r[3:]) for r in rows if r["gid"] == 1]
    registers = {int(r["reg"]): int(r["mx"]) for r in rows if r["gid"] == 2}
    return lineage, registers


def append_lineage_rows(
    spark: SparkSession, rows: list[tuple], output_path: str, n_buckets: int
) -> None:
    """Commit a wave's buckets as the next bucket snapshot: the latest
    one's entries plus ``rows`` (a re-run bucket's entry replaces its
    old one), and ``n_buckets``.  Driver work with zero Spark jobs, the
    shape of Iceberg's manifest commit: a 1-task Spark write job here
    cost 1.5-2.3 s of fixed scheduler time per wave."""
    if not rows:
        return
    seq, entries = _bucket_log(spark, output_path, n_buckets)
    for row in rows:
        entry = dict(zip(LINEAGE_FIELDS, row))
        entry["committed_at"] = entry["committed_at"].isoformat()
        entries[entry["bucket"]] = entry
    buckets = [entries[b] for b in sorted(entries)]
    body = {"n_buckets": n_buckets, "buckets": buckets}
    commit_snapshot(spark, lineage_path(output_path), seq + 1, body)


def write_file_atomic(spark: SparkSession, path: str, data: bytes) -> None:
    """Write ``data`` to ``path`` through the JVM Hadoop filesystem so
    that ``path`` holds all of it or does not exist: write a hidden
    temp file beside it, then rename it into place.  The temp name
    starts with ".", so it is not a ``<seq>.json`` name and
    ``latest_snapshot`` skips it: a crash mid-write leaves nothing a
    reader or a resume can mistake for a commit."""
    dst, fs = hadoop_fs(spark, path)
    fs.mkdirs(dst.getParent())
    tmp = spark._jvm.org.apache.hadoop.fs.Path(
        dst.getParent(), f".{dst.getName()}"
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if not fs.rename(tmp, dst):
        raise OSError(f"rename of {tmp.toString()} to {path} failed")
