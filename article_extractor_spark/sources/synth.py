"""Deterministic synthetic corpus generator.

Produces full-page HTML documents in the shapes of the reference's test
fixtures (conftest.py:16-209 template shapes; FIXTURES.md §4), each with
its *expected* extraction result computed at generation time, so Spark
end-to-end tests and benches have a ground truth with zero external
data.  Everything derives from ``(seed, doc_id)`` — no wall clock, no
uuid4 (reference uses uuid4 for placeholders, extractor.py:64; our
engine is fully deterministic per SURVEY.md §7.5).
"""

from __future__ import annotations

import random
import re
from collections.abc import Iterator

from pyspark.sql import types as T

from ..operators.extraction import SPAN_TYPE

_WORDS = (
    "analysis baseline cluster corpus dataset engine extraction feature "
    "gradient heuristic inference kernel latency metadata network outlier "
    "pipeline quantile resource schema throughput uniform vector workload "
    "yield anomaly batch cache document executor fixture graph hash index "
    "join kernel lineage metric node operator partition query row shuffle "
    "table update validation window"
).split()

_RX_IMG_TAG = re.compile(r"<img\b[^>]*>", re.IGNORECASE)
_RX_IMG_SRC = re.compile(r'src="([^"]*)"', re.IGNORECASE)

# the corpus table's columns: what ``corpus_dataframe`` generates and
# what the streaming ingest reads without inferring a schema
CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
    ]
)

TEMPLATE_WEIGHTS = (
    # (name, weight) — FIXTURES.md §5 mixture
    ("simple", 45),
    ("navigation_heavy", 25),
    ("code_heavy", 15),
    ("media_interleaved", 10),
    ("boilerplate_laden", 4),
    ("giant", 1),
)


def _rng_for(seed: int, doc_id: str) -> random.Random:
    return random.Random(f"{seed}:{doc_id}")


# English function words interleaved into synthetic sentences so the
# corpus reads like prose, not keyword salad — real curation filters
# (stopword-ratio langid, Gopher's stop-hit rule) classify a
# function-word-free text as non-English and would reject 100% of a
# synthetic corpus, which both breaks pipeline tests and makes the
# synth data a poor model of crawled articles.
_FUNCTION_WORDS = (
    "the a of and to in is it for with on that as by this from".split()
)


def _sentence(rng: random.Random, n_words: int) -> str:
    words = []
    for _ in range(n_words):
        # ~40% function words ≈ running English prose
        if words and rng.random() < 0.4:
            words.append(rng.choice(_FUNCTION_WORDS))
        else:
            words.append(rng.choice(_WORDS))
    words[0] = words[0].capitalize()
    # commas are a scoring signal (reference scorer.py:162): sprinkle some
    out = []
    for i, w in enumerate(words):
        out.append(w)
        if i not in (0, len(words) - 1) and rng.random() < 0.18:
            out[-1] = w + ","
    return " ".join(out) + "."


def _paragraph(rng: random.Random, n_sentences: int | None = None) -> str:
    n = n_sentences if n_sentences is not None else rng.randint(2, 5)
    return " ".join(_sentence(rng, rng.randint(8, 16)) for _ in range(n))


def _slug(rng: random.Random) -> str:
    return "-".join(rng.choice(_WORDS) for _ in range(3))


def _chrome(title: str, body: str, nav_links: str = "") -> str:
    nav = nav_links or (
        '<a href="/">Home</a> <a href="/about">About</a> '
        '<a href="/archive">Archive</a> <a href="/contact">Contact</a>'
    )
    return (
        "<html><head>"
        f"<title>{title} - Synth Site</title>"
        "<script>window.track = function() {};</script>"
        "<style>body { margin: 0 }</style>"
        "</head><body>"
        f'<header class="site-header"><nav class="menu">{nav}</nav></header>'
        f"{body}"
        '<aside class="sidebar"><h3>Related</h3>'
        '<a href="/r/1">Related one</a> <a href="/r/2">Related two</a></aside>'
        '<footer class="site-footer"><p>Copyright 2026. '
        '<a href="/privacy">Privacy</a></p></footer>'
        "</body></html>"
    )


def _article_paragraphs(rng: random.Random, count: int) -> list[str]:
    return [_paragraph(rng) for _ in range(count)]


def _make_simple(rng: random.Random, url: str) -> tuple[str, str]:
    """Returns (full_page_html, article_fragment_html)."""
    title = _slug(rng).replace("-", " ").title()
    paras = _article_paragraphs(rng, rng.randint(5, 10))
    article = (
        f'<article class="post-content"><h1>{title}</h1>'
        + "".join(f"<p>{p}</p>" for p in paras)
        + "</article>"
    )
    page = _chrome(title, f"<main>{article}</main>")
    return page, article


def _make_navigation_heavy(rng: random.Random, url: str) -> tuple[str, str]:
    title = _slug(rng).replace("-", " ").title()
    paras = _article_paragraphs(rng, rng.randint(6, 9))
    article = (
        f'<article class="entry-content"><h1>{title}</h1>'
        + "".join(f"<p>{p}</p>" for p in paras)
        + "</article>"
    )
    extra_nav = " ".join(
        f'<a href="/cat/{i}">Category {i}</a>' for i in range(20)
    )
    body = (
        f'<nav class="top-nav">{extra_nav}</nav>'
        f'<div class="layout"><nav class="sidebar-nav">{extra_nav}</nav>'
        f"<main>{article}</main></div>"
    )
    page = _chrome(title, body, nav_links=extra_nav)
    return page, article


def _make_code_heavy(rng: random.Random, url: str) -> tuple[str, str]:
    title = _slug(rng).replace("-", " ").title()
    sections = []
    for i in range(rng.randint(3, 5)):
        code = "\n".join(
            f"def fn_{i}_{j}(x): return x * {j}" for j in range(rng.randint(2, 5))
        )
        sections.append(
            f"<h2>Section {i}</h2><p>{_paragraph(rng)}</p>"
            f"<pre><code>{code}</code></pre>"
        )
    article = (
        f'<article class="post docs"><h1>{title}</h1>'
        + "".join(sections)
        + "</article>"
    )
    return _chrome(title, f"<main>{article}</main>"), article


def _make_media_interleaved(rng: random.Random, url: str) -> tuple[str, str]:
    """Paragraphs with inline images between them (the graft payload
    shape); tracking pixels are injected in the PAGE but excluded from
    the expected article (sanitizer must drop them)."""
    title = _slug(rng).replace("-", " ").title()
    parts = [f"<h1>{title}</h1>"]
    expected_parts = [f"<h1>{title}</h1>"]
    n_blocks = rng.randint(4, 8)
    for i in range(n_blocks):
        p = _paragraph(rng)
        parts.append(f"<p>{p}</p>")
        expected_parts.append(f"<p>{p}</p>")
        if rng.random() < 0.7:
            img = f"https://cdn.synth.example/images/photo-{rng.randint(1, 999)}.jpg"
            parts.append(f'<img src="{img}" />')
            expected_parts.append(f'<img src="{img}" />')
        if rng.random() < 0.3:
            # tracking pixel: must be stripped by image-validity rules
            parts.append('<img src="https://metrics.synth.example/pixel.gif" />')
    article = f'<article class="story-body">{"".join(parts)}</article>'
    expected = f'<article class="story-body">{"".join(expected_parts)}</article>'
    return _chrome(title, f"<main>{article}</main>"), expected


def _make_boilerplate_laden(rng: random.Random, url: str) -> tuple[str, str]:
    title = _slug(rng).replace("-", " ").title()
    paras = _article_paragraphs(rng, rng.randint(6, 9))
    core = f"<h1>{title}</h1>" + "".join(f"<p>{p}</p>" for p in paras)
    noise = (
        '<div class="newsletter"><p>Sign up for our free newsletter today, '
        'please and thank you.</p><a href="/sub">Subscribe</a></div>'
        '<div class="related"><p>Related posts you may enjoy reading.</p>'
        '<a href="/p/1">One</a> <a href="/p/2">Two</a></div>'
        '<div class="comment"><p>Join the conversation, add a comment '
        "below.</p></div>"
        '<div class="share"><p>Share this article with your friends '
        "everywhere.</p></div>"
    )
    article = f'<article class="article-body">{core}{noise}</article>'
    expected = f'<article class="article-body">{core}</article>'
    return _chrome(title, f"<main>{article}</main>"), expected


def _make_giant(rng: random.Random, url: str) -> tuple[str, str]:
    title = _slug(rng).replace("-", " ").title()
    paras = _article_paragraphs(rng, 200)  # ~100 KB documents: the skew tail
    article = (
        f'<article class="post-content"><h1>{title}</h1>'
        + "".join(f"<p>{p}</p>" for p in paras)
        + "</article>"
    )
    return _chrome(title, f"<main>{article}</main>"), article


_TEMPLATE_BUILDERS = {
    "simple": _make_simple,
    "navigation_heavy": _make_navigation_heavy,
    "code_heavy": _make_code_heavy,
    "media_interleaved": _make_media_interleaved,
    "boilerplate_laden": _make_boilerplate_laden,
    "giant": _make_giant,
}

_CUM_WEIGHTS: list[tuple[str, int]] = []
_total = 0
for _name, _w in TEMPLATE_WEIGHTS:
    _total += _w
    _CUM_WEIGHTS.append((_name, _total))


def _pick_template(rng: random.Random) -> str:
    roll = rng.randint(1, _total)
    for name, cum in _CUM_WEIGHTS:
        if roll <= cum:
            return name
    return "simple"


def encode_page_to_spans(html: str) -> list[dict]:
    """Decompose a full page into the input-table span shape
    (BASELINE.json input_hint): markup chunks between <img> tags become
    text spans (raw HTML in ``text``); each <img> becomes a media span."""
    spans: list[dict] = []
    pos = 0
    for m in _RX_IMG_TAG.finditer(html):
        chunk = html[pos : m.start()]
        if chunk.strip():
            spans.append(
                {"kind": "text", "text": chunk, "media_ref": "", "offset": len(spans)}
            )
        src_m = _RX_IMG_SRC.search(m.group(0))
        spans.append(
            {
                "kind": "media",
                "text": "",
                "media_ref": src_m.group(1) if src_m else "",
                "offset": len(spans),
            }
        )
        pos = m.end()
    tail = html[pos:]
    if tail.strip():
        spans.append(
            {"kind": "text", "text": tail, "media_ref": "", "offset": len(spans)}
        )
    return spans


def generate_document(doc_id: str, seed: int = 42) -> dict:
    """One deterministic synthetic document + its expected extraction."""
    from ..extract.spans import html_fragment_to_spans

    rng = _rng_for(seed, doc_id)
    template = _pick_template(rng)
    url = f"https://synth.example/{template}/{_slug(rng)}"
    page, expected_fragment = _TEMPLATE_BUILDERS[template](rng, url)
    expected_spans = html_fragment_to_spans(expected_fragment, base_url=url)
    return {
        "doc_id": doc_id,
        "url": url,
        "template": template,
        "html": page,
        "spans": encode_page_to_spans(page),
        "expected_spans": expected_spans,
    }


def iter_documents(n: int, seed: int = 42, start: int = 0) -> Iterator[dict]:
    for i in range(start, start + n):
        yield generate_document(f"synth-{i:09d}", seed=seed)


def corpus_dataframe(spark, n: int, seed: int = 42, partitions: int | None = None):
    """Distributed corpus generation: spark.range → mapInPandas.

    Returns a DataFrame (doc_id, url, spans) in the exact input_hint
    shape; generation happens on executors so a 10^8-row synthetic
    corpus never passes through the driver.
    """
    import pandas as pd

    from ..shipping import ensure_shipped

    ensure_shipped(spark)

    def gen(batches):
        for batch in batches:
            rows = []
            for i in batch["id"]:
                doc = generate_document(f"synth-{int(i):09d}", seed=seed)
                rows.append(
                    (
                        doc["doc_id"],
                        doc["url"],
                        [
                            (s["kind"], s["text"], s["media_ref"], s["offset"])
                            for s in doc["spans"]
                        ],
                    )
                )
            yield pd.DataFrame(rows, columns=["doc_id", "url", "spans"])

    rng_df = spark.range(0, n, numPartitions=partitions or max(32, n // 2000))
    return rng_df.mapInPandas(gen, schema=CORPUS_SCHEMA)


# The one-page-per-document-row template the registry's extraction
# queries build from the testdata ``documents`` table.
_CLOSING_P = "End of synthetic document body."


def synth_page_html(doc_id: str, text: str) -> str:
    """Python-side twin of the registry's synthetic page (JVM
    expressions in ``queries.documents_as_interleaved_corpus`` +
    ``render_spans_to_html``; SQL twin ``queries._SQL_PAGE``).  Used
    by kernels that must build the page inside an Arrow stage
    (``documents_as_mixed``).  The three representations MUST stay
    byte-identical — ``test_synth_page_templates_agree`` pins JVM ==
    Python on real corpus rows, and the oracles pin JVM == SQL."""
    return (
        f"<html><head><title>Doc {doc_id} - Synth</title></head><body>"
        '<header class="site-header"><nav>'
        '<a href="/">Home</a> <a href="/about">About</a></nav></header>'
        f'<main><article class="post-content"><h1>Doc {doc_id}</h1>'
        f"<p>{text}</p>\n"
        f'<img src="https://cdn.example/img-{doc_id}.jpg" />\n'
        f"<p>{_CLOSING_P}</p></article></main>"
        '<footer class="site-footer"><p>Copyright 2026.</p></footer>'
        "</body></html>"
    )
