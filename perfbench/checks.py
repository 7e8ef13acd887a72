"""Correctness checks on what a timed repetition committed.

The committed parquet tables are read with pyarrow, outside Spark, so
a check costs no Spark jobs and cannot be skewed by the session."""

from __future__ import annotations

import pyarrow.dataset as ds


def read_columns(table: str, columns: list[str]) -> dict[str, list]:
    """Columns of a (hive-partitioned) parquet table as Python lists."""
    t = ds.dataset(table, format="parquet", partitioning="hive").to_table(columns=columns)
    return {c: t.column(c).to_pylist() for c in columns}


def span_failures(table: str, docs: list[dict]) -> tuple[int, list[str]]:
    """(docs failed, a few failed ids).  A doc fails when its committed
    spans differ from the generator's expected spans on (kind, text,
    media_ref) in order, when it is missing, duplicated or unexpected,
    or when its row says ``success=false``."""
    expected = {d["doc_id"]: d["expected"] for d in docs}
    cols = read_columns(table, ["doc_id", "success", "spans"])
    seen: set[str] = set()
    bad: set[str] = set()
    for doc_id, ok, spans in zip(cols["doc_id"], cols["success"], cols["spans"]):
        got = [(s["kind"], s["text"], s["media_ref"]) for s in spans or []]
        if doc_id in seen or not ok or expected.get(doc_id) != got:
            bad.add(doc_id)
        seen.add(doc_id)
    bad |= expected.keys() - seen
    return len(bad), sorted(bad)[:5]


def kept_duplicates(verdicts: str, dup_ids: list[str]) -> int:
    """Planted duplicates that came out ``kept:*`` or have no verdict."""
    cols = read_columns(verdicts, ["doc_id", "status"])
    status = dict(zip(cols["doc_id"], cols["status"]))
    return sum(
        1 for d in dup_ids if d not in status or status[d].startswith("kept:")
    )
