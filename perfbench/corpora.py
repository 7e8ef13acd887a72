"""Seeded workload inputs and their expected extraction results.

Everything here is pure Python and derives from ``(workload, seed)``
alone: the same seed gives byte-identical documents, and every document
carries the spans a correct extraction must produce.  The package under
test only ever sees the tables written from these rows.

- ``extract-mixed``: ``sources.synth`` documents (the FIXTURES template
  mixture, ≈3.4 KB average, synth "giants" ≈60 KB).
- ``extract-giant-tail``: the same mixture plus a seeded tail of
  multi-MB article pages built here, large enough that
  ``resolve_giant_threshold`` engages the salted branch.
- ``wave-incremental``: a fixed epoch-0 base corpus plus one new wave
  with ids disjoint from it; ``DUP_SHARE`` of the wave are exact-content
  copies of base documents under new ids.
"""

from __future__ import annotations

import hashlib
import random

from article_extractor_spark.extract.spans import html_fragment_to_spans
from article_extractor_spark.sources.synth import (
    encode_page_to_spans,
    generate_document,
)

MIXED_DOCS = 2000

GIANT_TAIL_DOCS = 1000
# Fixed page sizes and ids (only their text varies with the seed), so
# every seed carries the same per-byte parse work in the same buckets.
GIANT_BYTES = (3 << 19, 2 << 20, 5 << 19, 3 << 20)  # 1.5, 2, 2.5, 3 MiB

# The wave's base is a fixed fixture (seed and size do not vary with
# --seed), so the committed epoch-0 state can be built once per
# checkout and copied before every timed wave.
WAVE_BASE_SEED = 20261016
WAVE_BASE_DOCS = 300
WAVE_DOCS = 400
DUP_SHARE = 0.10  # planted exact duplicates, as a share of WAVE_DOCS

_WORDS = (
    "archive bandwidth column deploy ledger manifest quorum replica "
    "segment snapshot tenant topology vacuum commit epoch partition "
    "scheduler shuffle spill straggler watermark checkpoint compaction"
).split()
_GLUE = "the a of and to in is it for with on that as by this from".split()


def _doc(doc_id: str, url: str, html: str, spans: list, expected: list) -> dict:
    return {
        "doc_id": doc_id,
        "url": url,
        "html": html,
        "spans": spans,
        "expected": [(s["kind"], s["text"], s["media_ref"]) for s in expected],
    }


def _synth(doc_id: str, seed: int) -> dict:
    d = generate_document(doc_id, seed=seed)
    return _doc(doc_id, d["url"], d["html"], d["spans"], d["expected_spans"])


def _giant_page(rng: random.Random, doc_id: str, target_bytes: int) -> dict:
    """One multi-MB article page: chrome around an <article> of plain
    paragraphs; the expected spans are the article fragment's own."""
    url = f"https://giant.example/{doc_id}"
    title = " ".join(rng.choice(_WORDS) for _ in range(3)).title()
    paras = []
    size = 0
    while size < target_bytes:
        words = [
            rng.choice(_GLUE) if i and rng.random() < 0.4 else rng.choice(_WORDS)
            for i in range(rng.randint(40, 90))
        ]
        p = f"<p>{' '.join(words).capitalize()}.</p>"
        paras.append(p)
        size += len(p)
    article = f'<article class="post-content"><h1>{title}</h1>{"".join(paras)}</article>'
    page = (
        f"<html><head><title>{title}</title>"
        "<script>window.track = function() {};</script></head><body>"
        '<header class="site-header"><nav class="menu"><a href="/">Home</a> '
        '<a href="/about">About</a></nav></header>'
        f"<main>{article}</main>"
        '<footer class="site-footer"><p>Copyright 2026.</p></footer>'
        "</body></html>"
    )
    return _doc(
        doc_id,
        url,
        page,
        encode_page_to_spans(page),
        html_fragment_to_spans(article, base_url=url),
    )


def mixed(seed: int, n: int = MIXED_DOCS) -> list[dict]:
    return [_synth(f"synth-{i:09d}", seed) for i in range(n)]


def giant_tail(seed: int, n: int = GIANT_TAIL_DOCS) -> list[dict]:
    rng = random.Random(f"giant-tail:{seed}")
    giants = [
        _giant_page(rng, f"giant-{k:03d}", size)
        for k, size in enumerate(GIANT_BYTES)
    ]
    return mixed(seed, n - len(giants)) + giants


def wave_base() -> list[dict]:
    return [_synth(f"synth-{i:09d}", WAVE_BASE_SEED) for i in range(WAVE_BASE_DOCS)]


def wave(seed: int, base: list[dict]) -> tuple[list[dict], list[str]]:
    """(wave docs, planted duplicate ids).  New documents come from the
    synth generator under ``seed`` with ids far above the base range;
    each planted duplicate copies one base document's page verbatim."""
    rng = random.Random(f"wave:{seed}")
    n_dups = round(WAVE_DOCS * DUP_SHARE)
    first = 1_000_000 + (seed % 100_000) * 1_000
    docs = [
        _synth(f"synth-{first + i:09d}", seed) for i in range(WAVE_DOCS - n_dups)
    ]
    dup_ids = []
    for k, src in enumerate(rng.sample(base, n_dups)):
        dup_id = f"dup-{seed}-{k:04d}"
        docs.append(dict(src, doc_id=dup_id))
        dup_ids.append(dup_id)
    return docs, dup_ids


def corpus_hash(docs: list[dict]) -> str:
    h = hashlib.sha256()
    for d in docs:
        for part in (d["doc_id"], d["url"], d["html"]):
            h.update(part.encode("utf-8"))
            h.update(b"\x00")
    return h.hexdigest()


def size_stats(docs: list[dict]) -> dict:
    sizes = sorted(len(d["html"].encode("utf-8")) for d in docs)

    def q(p: float) -> int:
        return sizes[min(len(sizes) - 1, int(p * len(sizes)))]

    total = sum(sizes)
    big = sum(s for s in sizes if s >= 1 << 20)
    return {
        "docs": len(sizes),
        "input_bytes": total,
        "size_p50": q(0.5),
        "size_p90": q(0.9),
        "size_p99": q(0.99),
        "size_max": sizes[-1],
        "giant_docs": sum(1 for s in sizes if s >= 1 << 20),
        "giant_byte_share": round(big / total, 4) if total else 0.0,
    }
