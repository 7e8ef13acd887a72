"""Straggler-tail A/B for the giant-document branch of
``extract_articles`` (operators/extraction.py ``giant_threshold``).

Builds a deterministic skewed corpus — many small pages plus a tail of
multi-MB pages clustered into a single parquet file (the realistic
shape: a crawl wave over one host with huge pages lands together) —
then times extraction twice on the same session:

  * baseline: one ``mapInArrow`` over the scan partitions as-is — the
    file holding the giant tail becomes one or two tasks that run long
    after every other core goes idle;
  * salted:  ``giant_threshold`` routes docs >= 1 MB through a separate
    round-robin repartition so no task accumulates several giants.

Prints ONE JSON line.  Usage::

    python scripts/giant_bench.py [--cores 8] [--giants 48] [--normals 8000]
"""

from __future__ import annotations

import argparse
import json
import random
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
    "eiusmod tempor incididunt labore dolore magna aliqua enim minim "
    "veniam quis nostrud exercitation ullamco laboris nisi aliquip"
).split()


def _paragraph(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n_words))


def _page(rng: random.Random, doc_id: int, n_paras: int, words_per: int) -> str:
    body = "".join(
        f"<p>{_paragraph(rng, words_per)}</p>" for _ in range(n_paras)
    )
    return (
        f"<html><head><title>Doc {doc_id}</title></head><body>"
        f'<nav><a href="/">home</a></nav>'
        f'<main><article class="post-content"><h1>Doc {doc_id}</h1>'
        f"{body}</article></main></body></html>"
    )


def build_corpus(spark, path: str, n_normal: int, n_giant: int) -> None:
    """Normals spread over 32 files; giants coalesced into ONE file so
    the scan-side skew is real (generation itself is distributed)."""
    import pandas as pd

    def gen(kind: str):
        n_paras, words = (20, 60) if kind == "normal" else (4000, 90)

        def fn(batches):
            for batch in batches:
                rows = []
                for i in batch["id"]:
                    i = int(i)
                    rng = random.Random(1000 + i)
                    rows.append(
                        (
                            f"{kind}-{i:07d}",
                            f"https://skew.example/{kind}/{i}",
                            _page(rng, i, n_paras, words),
                        )
                    )
                yield pd.DataFrame(rows, columns=["doc_id", "url", "html"])

        return fn

    schema = "doc_id string, url string, html string"
    normals = spark.range(0, n_normal, numPartitions=32).mapInPandas(
        gen("normal"), schema=schema
    )
    giants = spark.range(0, n_giant, numPartitions=8).mapInPandas(
        gen("giant"), schema=schema
    )
    normals.write.mode("overwrite").parquet(path)
    giants.coalesce(1).write.mode("append").parquet(path)
    # the parquet _SUCCESS lands after the FIRST write; a crash between
    # the two writes must not leave a giant-free corpus that later runs
    # silently reuse — completion is our own sentinel, written last
    Path(path, "_CORPUS_COMPLETE").touch()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--normals", type=int, default=8000)
    ap.add_argument("--giants", type=int, default=48)
    ap.add_argument("--trials", type=int, default=2)
    args = ap.parse_args()

    from article_extractor_spark.operators.extraction import extract_articles
    from article_extractor_spark.session import build_session

    spark = build_session(app_name="giant-bench", cores=args.cores)
    path = f"/tmp/aes_cache/giant_corpus_n{args.normals}g{args.giants}"
    if not Path(path, "_CORPUS_COMPLETE").exists():
        build_corpus(spark, path, args.normals, args.giants)

    corpus = spark.read.parquet(path)

    def run(threshold):
        out = extract_articles(corpus, giant_threshold=threshold)
        best = float("inf")
        for _ in range(args.trials):
            t0 = time.monotonic()
            out.write.format("noop").mode("overwrite").save()
            best = min(best, time.monotonic() - t0)
        return best

    # warmup (JVM + python workers) on a tiny slice
    extract_articles(corpus.limit(64)).write.format("noop").mode(
        "overwrite"
    ).save()

    from article_extractor_spark.operators.extraction import (
        resolve_giant_threshold,
    )
    from pyspark.sql import functions as F

    pruned = corpus.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("url").cast("string").alias("url"),
        F.col("html").cast("string").alias("html"),
    )
    auto_threshold = resolve_giant_threshold(pruned)

    baseline = run(None)
    salted = run(1_000_000)
    auto = run(auto_threshold)

    print(
        json.dumps(
            {
                "metric": "giant-doc straggler A/B wall sec (best of trials)",
                "cores": args.cores,
                "normals": args.normals,
                "giants": args.giants,
                "baseline_sec": round(baseline, 3),
                "salted_sec": round(salted, 3),
                "auto_sec": round(auto, 3),
                "auto_threshold": auto_threshold,
                "speedup": round(baseline / salted, 3),
                "auto_speedup": round(baseline / auto, 3),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
