"""Behaviour lock for the extraction kernel (ROADMAP item 1, first slice).

``tests/data/behaviour_lock.json`` maps every doc_id of two fixed inputs
to ``sha256`` over the kernel's ``(spans, title, word_count, success)``,
computed in-process by ``extract_document`` (no Spark):

* ``synth``: 1,000 ``sources.synth.generate_document`` pages (seed 42),
  default ``ExtractOptions`` — the template mix the job benches run.
* ``sf0.001``: the 500 rows of ``documents.parquet`` rendered through
  ``sources.synth.synth_page_html`` (the page the oracle queries extract),
  with the ``min_word_count=10`` those queries use.

A refactor that keeps the snapshot keeps the kernel's output.  A change
that means to alter it regenerates the snapshot and says why:

    python tests/test_behaviour_lock.py --write
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

import pytest
from conftest import TESTDATA_SF001

from article_extractor_spark.extract.pipeline import (
    ExtractOptions,
    extract_document,
)

SNAPSHOT = Path(__file__).resolve().parent / "data" / "behaviour_lock.json"
SYNTH_DOCS = 1000
SYNTH_SEED = 42
SF_MIN_WORD_COUNT = 10


def result_digest(result: dict) -> str:
    payload = json.dumps(
        [
            result["spans"],
            result["title"],
            result["word_count"],
            result["success"],
        ],
        sort_keys=True,
        ensure_ascii=False,
        separators=(",", ":"),
    )
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()


def synth_digests() -> dict[str, str]:
    from article_extractor_spark.sources.synth import iter_documents

    return {
        d["doc_id"]: result_digest(extract_document(d["html"], url=d["url"]))
        for d in iter_documents(SYNTH_DOCS, seed=SYNTH_SEED)
    }


def sf_digests() -> dict[str, str]:
    import pyarrow.parquet as pq

    from article_extractor_spark.sources.synth import synth_page_html

    opts = ExtractOptions(min_word_count=SF_MIN_WORD_COUNT)
    rows = pq.read_table(
        TESTDATA_SF001 / "documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    out = {}
    for row in rows:
        doc_id = str(row["doc_id"])
        page = synth_page_html(doc_id, row["text"])
        url = f"https://synth.example/docs/{doc_id}"
        out[doc_id] = result_digest(extract_document(page, url=url, options=opts))
    return out


def _first_difference(expected: dict[str, str], actual: dict[str, str]) -> str:
    for doc_id, digest in expected.items():
        if actual.get(doc_id) != digest:
            return (
                f"first differing doc_id {doc_id!r}: "
                f"snapshot {digest}, now {actual.get(doc_id)}"
            )
    extra = sorted(set(actual) - set(expected))
    return f"doc_ids missing from the snapshot: {extra[:5]}"


def _load(section: str) -> dict[str, str]:
    return json.loads(SNAPSHOT.read_text(encoding="utf-8"))[section]


def test_behaviour_lock_synth():
    expected = _load("synth")
    assert len(expected) == SYNTH_DOCS
    actual = synth_digests()
    assert actual == expected, _first_difference(expected, actual)


@pytest.mark.skipif(
    not (TESTDATA_SF001 / "documents.parquet").exists(),
    reason=f"test data not present at {TESTDATA_SF001}",
)
def test_behaviour_lock_sf0001():
    expected = _load("sf0.001")
    assert len(expected) == 500
    actual = sf_digests()
    assert actual == expected, _first_difference(expected, actual)


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit(__doc__)
    SNAPSHOT.parent.mkdir(parents=True, exist_ok=True)
    SNAPSHOT.write_text(
        json.dumps(
            {"synth": synth_digests(), "sf0.001": sf_digests()}, indent=0
        )
        + "\n",
        encoding="utf-8",
    )
    print(f"wrote {SNAPSHOT}")
