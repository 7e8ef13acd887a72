"""The contract gate: per-document span-sequence equality on the
reference's golden fixture corpus (28 cases × 12 hosts).

Mirrors the reference's own corpus test (test_fixture_corpus.py:80-97)
but compares the north-rule invariant — ordered (kind, text, media_ref)
span tuples — instead of only normalized inner text.
"""

from __future__ import annotations

import pytest

from article_extractor_spark.extract import extract_document, html_fragment_to_spans

from conftest import GOLDEN_CASES, requires_golden

pytestmark = requires_golden


def span_tuples(spans: list[dict]) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"]) for s in spans]


def test_corpus_has_expected_minimum_size():
    # Corpus-size floor mirrors reference test_fixture_corpus.py:67-71.
    assert len(GOLDEN_CASES) >= 27


@pytest.mark.parametrize("case", GOLDEN_CASES, ids=lambda c: c.name)
def test_golden_span_equality(case):
    raw = case.raw_path.read_text(encoding="utf-8")
    expected_html = case.expected_path.read_text(encoding="utf-8")

    result = extract_document(raw, url=case.url)
    assert result["success"], f"extraction failed: {result['error']}"

    expected = html_fragment_to_spans(expected_html, base_url=case.url)
    assert span_tuples(result["spans"]) == span_tuples(expected)

    # spans are dense, 0-based, document-ordered
    assert [s["offset"] for s in result["spans"]] == list(
        range(len(result["spans"]))
    )


def _dom_free_normalized_text(fragment: str) -> str:
    """Reference-oracle text normalization (reference
    test_fixture_corpus.py:28-35) implemented WITHOUT any DOM kernel:
    strip comments and tags with regexes, unescape entities, collapse
    whitespace, strip space before punctuation.

    Entities are unescaped TWICE on purpose: the reference pipeline
    unescapes once in the parser and once in its normalizer (so
    ``&amp;amp;`` in expected.html reads back as ``&``), and the
    engine's span texts go through the same two unescapes (parser +
    spans.normalize_text).  The corpus contains 75 ``&amp;amp;``
    occurrences, so a single unescape here would diverge."""
    import html as html_mod
    import re

    text = re.sub(r"<!--.*?-->", " ", fragment, flags=re.S)
    text = re.sub(r"</?[a-zA-Z][^>]*>", " ", text)
    text = html_mod.unescape(html_mod.unescape(text))
    text = re.sub(r"\s+", " ", text).strip()
    return re.sub(r"\s+([,.;:!?])", r"\1", text)


@pytest.mark.parametrize("case", GOLDEN_CASES, ids=lambda c: c.name)
def test_golden_text_equality_parser_independent(case):
    """Non-circular corpus gate: test_golden_span_equality derives the
    expected spans by running the repo's OWN parser over expected.html,
    so a whitespace/entity bug shared by parser and span codec would
    cancel out.  This assertion compares the engine's concatenated span
    text against a regex-only (no DOM anywhere) normalization of
    expected.html — a parse bug on either side now breaks equality
    instead of cancelling."""
    import re

    raw = case.raw_path.read_text(encoding="utf-8")
    expected_html = case.expected_path.read_text(encoding="utf-8")

    result = extract_document(raw, url=case.url)
    assert result["success"], f"extraction failed: {result['error']}"

    engine_text = " ".join(
        s["text"] for s in result["spans"] if s["kind"] == "text"
    )
    engine_text = re.sub(r"\s+", " ", engine_text).strip()
    engine_text = re.sub(r"\s+([,.;:!?])", r"\1", engine_text)

    assert engine_text == _dom_free_normalized_text(expected_html)


@pytest.mark.parametrize("case", GOLDEN_CASES, ids=lambda c: c.name)
def test_golden_title_nonempty(case):
    raw = case.raw_path.read_text(encoding="utf-8")
    result = extract_document(raw, url=case.url)
    assert result["title"].strip()
    assert result["word_count"] > 0
