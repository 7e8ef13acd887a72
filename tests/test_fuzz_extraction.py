"""Crash-freedom + parser-agreement fuzzing for the extraction kernel.

The remaining risk for a trillion-document corpus is the weird tail:
truncated tags, interleaved closers, entity garbage, rawtext
weirdness, control bytes.  These tests drive ``extract_document``
over ≥10k seeded documents — structured random trees plus byte-level
mutations of them — asserting E29's failure-row contract (NEVER
throw; malformed input becomes a failure row or a best-effort
extraction) and that the fast tokenizer and the stdlib reference
tokenizer agree on the SPAN OUTPUT for every generated (non-mutated)
document.  Mutated documents assert crash-freedom on both parsers;
agreement there is measured but tolerated to diverge (both sides are
garbage-in recoveries — same contract as
test_dom.py::test_fast_parser_fuzz_never_crashes).
"""

from __future__ import annotations

import random

import pytest

from article_extractor_spark.extract.pipeline import extract_document

TAGS = (
    "div p a span article main section ul ol li img figure figcaption "
    "h1 h2 h3 table tr td th script style br em strong b i title nav "
    "aside footer header blockquote pre textarea iframe form button "
    "svg noscript video audio source picture dl dt dd small sup"
).split()
VOID = {"img", "br", "source"}
RAWTEXT = {"script", "style", "textarea"}
ATTRS = "class id href src role style data-x onclick rel alt width".split()
ATTR_VALUES = [
    "main",
    "content",
    "sidebar share related",
    "article-body post-content",
    "nav menu",
    "comment promo",
    "x'y",
    'a"b',
    "{!}",
    "&amp;&bogus;",
    "//tr.example/pixel.gif",
    "/img/photo.jpg",
    "/a/b?c=d&e=f#frag",
    "javascript:void(0)",
    "",
    "   ",
    "ünïcodé ∂ƒ",
]
WORDS = (
    "the quick brown fox jumps over lazy dog committee report annual "
    "findings chamber debate vote evening article content body text "
    "paragraph words reading piece story détails naïve café 東京 数据"
).split()
ENTITIES = [
    "&amp;", "&nbsp;", "&lt;", "&gt;", "&#65;", "&#x41;", "&bogus;",
    "&#xZZZZ;", "&#99999999;", "&;", "&", "&#", "&#x",
]


def _text(rng: random.Random, lo: int = 1, hi: int = 12) -> str:
    parts = [rng.choice(WORDS) for _ in range(rng.randint(lo, hi))]
    if rng.random() < 0.3:
        parts.insert(rng.randrange(len(parts) + 1), rng.choice(ENTITIES))
    return " ".join(parts)


def _attrs(rng: random.Random) -> str:
    out = []
    for _ in range(rng.randint(0, 3)):
        a = rng.choice(ATTRS)
        v = rng.choice(ATTR_VALUES)
        style = rng.random()
        if style < 0.6:
            out.append(f'{a}="{v}"' if '"' not in v else f"{a}='{v}'")
        elif style < 0.8:
            out.append(f"{a}='{v}'" if "'" not in v else f'{a}="{v}"')
        elif style < 0.9:
            out.append(f"{a}={v.split()[0]}" if v.split() else a)
        else:
            out.append(a)  # bare attribute
    return (" " + " ".join(out)) if out else ""


def _element(rng: random.Random, depth: int, budget: list[int]) -> str:
    if budget[0] <= 0:
        return ""
    budget[0] -= 1
    tag = rng.choice(TAGS)
    if tag in VOID:
        return f"<{tag}{_attrs(rng)}>"
    if tag in RAWTEXT:
        body = _text(rng)
        if rng.random() < 0.3:
            body += "<p>not-a-tag-in-rawtext</p>"
        return f"<{tag}{_attrs(rng)}>{body}</{tag}>"
    n_children = rng.randint(0, 3 if depth < 6 else 0)
    inner = []
    for _ in range(n_children):
        if rng.random() < 0.55:
            inner.append(_text(rng))
        else:
            inner.append(_element(rng, depth + 1, budget))
    if rng.random() < 0.12:
        inner.append(f"<!-- {_text(rng, 1, 4)} -->")
    body = "".join(inner) or _text(rng)
    close = f"</{tag}>"
    if rng.random() < 0.06:
        close = ""  # unclosed element — builder must recover
    return f"<{tag}{_attrs(rng)}>{body}{close}"


def generate_document(rng: random.Random) -> str:
    budget = [rng.randint(8, 60)]
    body = "".join(_element(rng, 0, budget) for _ in range(rng.randint(1, 6)))
    title = f"<title>{_text(rng, 1, 6)}</title>" if rng.random() < 0.8 else ""
    return (
        f"<html><head>{title}</head><body>"
        f"<main><article>{body}</article></main></body></html>"
        if rng.random() < 0.7
        else f"<html><body>{body}</body></html>"
    )


def mutate(rng: random.Random, s: str) -> str:
    """Byte-level corruption: the crawled-tail simulator."""
    ops = rng.randint(1, 3)
    for _ in range(ops):
        kind = rng.randrange(8)
        if not s:
            return s
        if kind == 0:  # truncate mid-anything
            s = s[: rng.randrange(len(s))]
        elif kind == 1:  # delete a slice
            i = rng.randrange(len(s))
            s = s[:i] + s[i + rng.randint(1, 20) :]
        elif kind == 2:  # duplicate a slice
            i = rng.randrange(len(s))
            j = min(len(s), i + rng.randint(1, 30))
            s = s[:j] + s[i:j] + s[j:]
        elif kind == 3:  # interleaved/bogus closer
            i = rng.randrange(len(s))
            s = s[:i] + f"</{rng.choice(TAGS)}>" + s[i:]
        elif kind == 4:  # entity garbage
            i = rng.randrange(len(s))
            s = s[:i] + rng.choice(ENTITIES) + s[i:]
        elif kind == 5:  # control/binary bytes
            i = rng.randrange(len(s))
            s = s[:i] + rng.choice("\x00\x01\x0b\x7f�") + s[i:]
        elif kind == 6:  # open a tag and never finish it
            i = rng.randrange(len(s))
            s = s[:i] + "<" + rng.choice(["!", "?", "![CDATA[", "!--", "a b="]) + s[i:]
        else:  # case-flip a region
            i = rng.randrange(len(s))
            j = min(len(s), i + rng.randint(1, 40))
            s = s[:i] + s[i:j].swapcase() + s[j:]
    return s


def _spans_of(html: str, stdlib: bool):
    from article_extractor_spark.dom.parser import parse_html_stdlib
    from article_extractor_spark.extract import pipeline as pipeline_mod

    prev = pipeline_mod.parse_html
    if stdlib:
        pipeline_mod.parse_html = parse_html_stdlib
    try:
        r = extract_document(html, url="https://fuzz.example/doc")
    finally:
        pipeline_mod.parse_html = prev
    return (
        r["success"],
        [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in r["spans"]
        ],
    )


N_STRUCTURED = 6000
N_MUTATED = 5000


def test_fuzz_structured_docs_extract_and_parsers_agree():
    """≥6k structured random documents: extract_document never raises
    under either tokenizer, and fast == stdlib on the span output."""
    rng = random.Random(0xA35)
    for i in range(N_STRUCTURED):
        html = generate_document(rng)
        fast = _spans_of(html, stdlib=False)
        slow = _spans_of(html, stdlib=True)
        assert fast == slow, f"doc {i} diverged: {html[:200]!r}"


def test_fuzz_mutated_docs_never_crash():
    """≥5k byte-corrupted documents (truncations, interleaved closers,
    entity garbage, control bytes): E29's contract — never throw, both
    tokenizers — and the fast tokenizer's garbage recovery mirrors
    stdlib span-for-span.  The only tolerated disagreements are inputs
    where STDLIB ITSELF raises (html.parser's AssertionError on
    unknown <![...] marked-section keywords — a stdlib wart the fast
    path deliberately recovers from instead of crashing); extraction
    turns that raise into a failure row on the stdlib side only."""
    rng = random.Random(0xF00D)
    n_disagree = 0
    for i in range(N_MUTATED):
        html = mutate(rng, generate_document(rng))
        fast = _spans_of(html, stdlib=False)
        slow = _spans_of(html, stdlib=True)
        if fast != slow:
            n_disagree += 1
    assert n_disagree <= 5, n_disagree


def test_fuzz_metadata_never_crashes_and_stays_stringy():
    """page_metadata kernel under the same mutational pressure: never
    raises, and every field is None or str (the Arrow stage's schema
    contract — a dict/list leaking through would kill the executor
    task at cast time)."""
    from article_extractor_spark.extract.metadata import (
        META_FIELDS,
        extract_page_metadata,
    )

    rng = random.Random(0x3E7A)
    jsonld_snips = [
        '<script type="application/ld+json">{"@type":"Article","headline":"H","author":',
        '{"name":"A"}}</script>',
        '<script type="application/ld+json">[{"@graph":[{"@type":"NewsArticle"',
        ',"author":[{"x":1},"S"]}]}]</script>',
        '<meta property="og:title" content="T"/>',
        '<link rel="canonical" href="http://x/"/>',
    ]
    for i in range(3000):
        html = mutate(rng, generate_document(rng))
        # splice metadata fragments (often corrupted by mutate) into
        # random positions so the JSON-LD/meta paths see garbage too
        for _ in range(rng.randint(0, 3)):
            j = rng.randrange(len(html) + 1)
            html = html[:j] + rng.choice(jsonld_snips) + html[j:]
        meta = extract_page_metadata(html)
        assert set(meta) == set(META_FIELDS)
        for k, v in meta.items():
            assert v is None or isinstance(v, str), (i, k, type(v))
