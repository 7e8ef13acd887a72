"""Driver-style correctness check: run every registered Spark query and
its DuckDB oracle on the same parquet tables; compare row count, schema
(column names), and exact values (columns sorted by name, rows sorted).

Usage: python scripts/check_oracles.py [--json out.json]
           [--master MASTER] [sf_dir] [query ...]

--json writes a CORRECTNESS-style artifact with per-query wall times
(spark_sec = the Spark query incl. toPandas; oracle_sec = DuckDB).
--master runs the Spark side under any master URL — e.g.
``local-cluster[2,4,2048]`` re-verifies the registry across separate
executor JVMs (real serialized shuffles, per-executor broadcasts)
instead of one local JVM.
"""

from __future__ import annotations

import json
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = ("events", "documents", "embeddings")


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: repr(v))
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    argv = sys.argv[1:]
    json_path = None
    master = None
    if "--json" in argv:
        i = argv.index("--json")
        json_path = argv[i + 1]
        del argv[i : i + 2]
    if "--master" in argv:
        i = argv.index("--master")
        master = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    from article_extractor_spark.queries import ORACLE_SQL, QUERY_FNS
    from article_extractor_spark.session import build_session

    spark = build_session(app_name="check-oracles", master=master)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    record: dict[str, dict] = {}
    for name, fn in QUERY_FNS.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        spark_pdf = fn(spark, sf_dir).toPandas()
        spark_sec = time.monotonic() - t0
        if name not in ORACLE_SQL:
            print(f"{name:28s} rows-only: {len(spark_pdf)} rows")
            record[name] = {
                "rows_match": None,
                "schema_match": None,
                "hash_match": None,
                "spark_rows": len(spark_pdf),
                "spark_sec": round(spark_sec, 3),
            }
            continue
        t0 = time.monotonic()
        oracle_pdf = con.execute(ORACLE_SQL[name]).fetchdf()
        oracle_sec = time.monotonic() - t0
        issues = []
        if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
            issues.append(
                f"schema {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
            )
        if len(spark_pdf) != len(oracle_pdf):
            issues.append(f"rows {len(spark_pdf)} vs {len(oracle_pdf)}")
        if not issues:
            a, b = normalize(spark_pdf), normalize(oracle_pdf)
            if not a.equals(b):
                diff = (a != b).any(axis=1)
                n_bad = int(diff.sum())
                issues.append(f"values differ in {n_bad}/{len(a)} rows")
                bad = a[diff].head(3)
                badb = b[diff].head(3)
                issues.append(f"spark:\n{bad}\noracle:\n{badb}")
        status = "OK" if not issues else "FAIL"
        print(
            f"{name:28s} {status}  ({len(spark_pdf)} rows, "
            f"spark {spark_sec:.2f}s, oracle {oracle_sec:.2f}s)"
        )
        for i in issues:
            print(f"    {i}")
        if issues:
            failures.append(name)
        record[name] = {
            "rows_match": len(spark_pdf) == len(oracle_pdf),
            "schema_match": sorted(spark_pdf.columns)
            == sorted(oracle_pdf.columns),
            "hash_match": not issues,
            "spark_rows": len(spark_pdf),
            "oracle_rows": len(oracle_pdf),
            "spark_sec": round(spark_sec, 3),
            "oracle_sec": round(oracle_sec, 3),
        }

    if json_path:
        with open(json_path, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "master": master
                    or spark.sparkContext.master,
                    "queries": record,
                },
                f,
                indent=1,
            )
        print(f"wrote {json_path}")

    print()
    if failures:
        print(f"FAILURES: {failures}")
        return 1
    print("all queries match their oracles")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
