"""Probe-only A/B for the partition-pruned storage layouts at a scale
where bytes-scanned shows up as wall time.

The registry's stored-layout queries (`lsh_ann_topk_pruned`,
`sq8_ann_topk_stored`, `ivf_ann_topk_pruned`, `zorder_pruned_scan`)
cache a materialized layout
per corpus and the sweep's first-call timing therefore includes the
one-time materialization; and at sf-scale vector counts (2k-20k) fixed
Spark overhead dominates the probe either way.  This bench isolates the
claim that matters at 100 TB: with the layout PRE-MATERIALIZED (it is
the stored table), a probe that prunes partitions beats the identical
probe that scans everything.

Input: deterministic R-fold replication (key offsets, no RNG) of the sf0.1 embeddings/events tables — default 500x
-> 1,000,000 vectors and 3,000,000 events.  Replication preserves the
bucket/cell distribution shape, so the pruned fraction is the same as
the source corpus's.

Each arm is forced with a noop sink, best-of --trials (box-contention
protocol, see BASELINE.md).  Prints one JSON line.

Usage: python scripts/prune_scale_bench.py [--emb-rep 500]
       [--ev-rep 30] [--trials 3] [--workdir /tmp/prune_bench]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SRC = "/root/testdata/sf0.1"


def replicate(con, table: str, pk: str, rep: int, out: str) -> int:
    off = con.execute(
        f"SELECT max({pk}) + 1 FROM '{SRC}/{table}.parquet'"
    ).fetchone()[0]
    cols = [
        r[0]
        for r in con.execute(
            f"DESCRIBE SELECT * FROM '{SRC}/{table}.parquet'"
        ).fetchall()
    ]
    select = ", ".join(
        f"{c} + i * {off} AS {c}" if c == pk else c for c in cols
    )
    con.execute(
        f"COPY (SELECT {select} FROM '{SRC}/{table}.parquet', "
        f"range({rep}) AS r(i) ORDER BY i, {pk}) "
        f"TO '{out}' (FORMAT PARQUET)"
    )
    return con.execute(f"SELECT count(*) FROM '{out}'").fetchone()[0]


def timed_min(fn, trials: int) -> float:
    best = float("inf")
    for _ in range(trials):
        t0 = time.monotonic()
        fn()
        best = min(best, time.monotonic() - t0)
    return round(best, 3)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--emb-rep", type=int, default=500)
    ap.add_argument("--ev-rep", type=int, default=30)
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--workdir", default="/tmp/prune_bench")
    args = ap.parse_args()

    import duckdb

    wd = Path(args.workdir)
    wd.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    emb_path = str(wd / "embeddings.parquet")
    ev_path = str(wd / "events.parquet")
    if not os.path.exists(emb_path):
        n = replicate(con, "embeddings", "vec_id", args.emb_rep, emb_path)
        print(f"embeddings: {n} rows", file=sys.stderr)
    if not os.path.exists(ev_path):
        n = replicate(con, "events", "event_id", args.ev_rep, ev_path)
        print(f"events: {n} rows", file=sys.stderr)

    from pyspark.sql import functions as F

    from article_extractor_spark.functions import similarity as S
    from article_extractor_spark.queries import (
        ZPROBE_USER,
        write_zorder_layout,
        zorder_probe_files,
    )
    from article_extractor_spark.session import build_session

    spark = build_session(app_name="prune-bench")
    force = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731

    emb = spark.read.parquet(emb_path)
    n_vec = emb.count()

    # --- pre-materialize the stored layouts (NOT in the timed window) ---
    bucket_path = str(wd / "emb_bucketed")
    cell_path = str(wd / "emb_cells")
    zorder_path = str(wd / "ev_zorder")
    if not os.path.exists(bucket_path + "/_SUCCESS"):
        S.write_bucket_partitioned(emb, bucket_path)
    if not os.path.exists(cell_path + "/_SUCCESS"):
        S.write_cell_partitioned(emb, cell_path)
    sq8_path = str(wd / "emb_sq8codes")
    if not os.path.exists(sq8_path + "/_SUCCESS"):
        S.write_sq8_codes(emb, sq8_path)
    if not os.path.exists(zorder_path + "/_SUCCESS"):
        write_zorder_layout(spark.read.parquet(ev_path), zorder_path)

    # warmup (JVM + python workers)
    force(S.cosine_topk(emb.limit(1000)))

    result: dict = {"n_vectors": n_vec, "trials": args.trials}

    # --- ANN: full scan vs inline-bucket scan vs partition-pruned probe ---
    result["cosine_full_scan_sec"] = timed_min(
        lambda: force(S.cosine_topk(emb)), args.trials
    )
    result["lsh_inline_sec"] = timed_min(
        lambda: force(S.lsh_ann_topk(emb)), args.trials
    )
    result["lsh_pruned_probe_sec"] = timed_min(
        lambda: force(S.lsh_ann_topk(emb, path=bucket_path)),
        args.trials,
    )
    result["sq8_inline_sec"] = timed_min(
        lambda: force(S.sq8_ann_topk(emb)), args.trials
    )
    result["sq8_stored_probe_sec"] = timed_min(
        lambda: force(S.sq8_ann_topk(emb, path=sq8_path)),
        args.trials,
    )
    result["ivf_inline_sec"] = timed_min(
        lambda: force(S.ivf_ann_topk(emb)), args.trials
    )
    result["ivf_pruned_probe_sec"] = timed_min(
        lambda: force(S.ivf_ann_topk_pruned(emb, path=cell_path)),
        args.trials,
    )

    # --- zorder: identical predicate over the identical partitioned
    # files, with vs without the partition-pruning IN filter ---
    u, probe_files = zorder_probe_files(ZPROBE_USER)
    part = spark.read.parquet(zorder_path)

    def zq(pruned: bool):
        d = part
        if pruned:
            d = d.where(F.col("file_id").isin(probe_files))
        return (
            d.where(F.col("xu") == u)
            .groupBy(F.expr("yh DIV 64").alias("yblock"))
            .agg(F.count(F.lit(1)).alias("n_events"))
        )

    # equality guard: pruning must not change the answer
    a = {tuple(r) for r in zq(True).collect()}
    b = {tuple(r) for r in zq(False).collect()}
    assert a == b, "pruned zorder probe diverged from full scan"
    result["zorder_full_scan_sec"] = timed_min(
        lambda: force(zq(False)), args.trials
    )
    result["zorder_pruned_sec"] = timed_min(
        lambda: force(zq(True)), args.trials
    )

    result["lsh_speedup"] = round(
        result["cosine_full_scan_sec"] / result["lsh_pruned_probe_sec"], 2
    )
    result["ivf_speedup"] = round(
        result["ivf_inline_sec"] / result["ivf_pruned_probe_sec"], 2
    )
    result["zorder_speedup"] = round(
        result["zorder_full_scan_sec"] / result["zorder_pruned_sec"], 2
    )
    result["sq8_speedup_vs_full"] = round(
        result["cosine_full_scan_sec"] / result["sq8_stored_probe_sec"], 2
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
