"""End-to-end per-document extraction.

Mirrors the reference's extraction flow (extractor.py:268-386; SURVEY.md
§3.1): parse → clean → title → candidate select → host adjust →
absolutize → sanitize → safe-mode → serialize, but the primary output is
the ordered span sequence instead of an HTML string.  Pure Python, no
Spark imports: the same function runs inside an Arrow ``mapInArrow``
batch on an executor or directly under pytest.
"""

from __future__ import annotations

from dataclasses import dataclass

from . import rules
from .candidates import discover_candidates, rank, refine_top
from .cleaning import (
    clean_document,
    extract_title,
    normalized_host,
    strip_selector_for_host,
)
from .sanitize import host_specific_cleanup, safe_mode_clean, sanitize_content
from .scoring import DocMemo
from .spans import dom_to_spans
from .urls import absolutize_urls
from ..dom.node import Node
from ..dom.parser import parse_html


@dataclass(frozen=True)
class ExtractOptions:
    """Extraction knobs (reference types.py:34-42 ExtractionOptions).

    ``min_char_threshold`` / ``include_images`` / ``include_code_blocks``
    mirror the reference's declared options.  The reference itself never
    consumes them in the extraction path (extractor.py reads only
    ``safe_markdown`` and ``min_word_count``; the include_* flags reach
    only the CLI arg parser and the response-cache key,
    extraction_cache.py:48-50) — so here, as there, they are part of the
    API surface and the cache identity, not the algorithm.  Implementing
    them as behavior would diverge from what the reference computes.
    """

    min_word_count: int = 150
    min_char_threshold: int = 500
    include_images: bool = True
    include_code_blocks: bool = True
    safe_output: bool = True
    emit_html: bool = False
    emit_markdown: bool = False
    # fused page-provenance metadata (extract/metadata.py) off the
    # SAME parse, read before cleaning strips head/script elements;
    # like emit_html/emit_markdown it is an output shape, not part of
    # the extraction algorithm, so it stays out of the cache key
    emit_metadata: bool = False

    def cache_key_fields(self) -> tuple:
        """The option fields that participate in response-cache /
        incremental-rerun identity (reference extraction_cache.py:40-52)."""
        return (
            self.min_word_count,
            self.min_char_threshold,
            self.include_images,
            self.include_code_blocks,
            self.safe_output,
        )


# Hosts where generic boilerplate pruning is skipped
# (reference extractor.py:324-330).
_KEEP_BOILERPLATE_HOSTS = frozenset(
    {"martinfowler.com", "infoworld.com", "leaddev.com", "technologyreview.com"}
)


def _first_match(node: Node, selector: str) -> Node | None:
    hits = node.query(selector)
    return hits[0] if hits else None


def _ancestor_with_id(node: Node, target_id: str) -> Node | None:
    cursor: Node | None = node
    while cursor is not None:
        if str(cursor.attrs.get("id", "")) == target_id:
            return cursor
        cursor = cursor.parent
    return None


def _martinfowler_adjust(node: Node) -> Node | None:
    cls = node.attrs.get("class", "")
    if isinstance(cls, (list, tuple)):
        cls = " ".join(str(c) for c in cls)
    if "paperBody" not in str(cls):
        return None
    return node.parent


def _jsomers_adjust(node: Node) -> Node | None:
    return _first_match(node, ".entry-content") or _first_match(
        node, ".postContent"
    )


# Host-specific candidate container tweaks (reference extractor.py:95-152).
_HOST_CANDIDATE_ADJUSTERS = {
    "martinfowler.com": _martinfowler_adjust,
    "thelocal.dk": lambda n: _first_match(n, "#articleBody"),
    "themarginalian.org": lambda n: _first_match(n, ".entry_content"),
    "jsomers.net": _jsomers_adjust,
    "leaddev.com": lambda n: _first_match(n, ".article__body__col--main"),
    "infoworld.com": lambda n: _ancestor_with_id(n, "page"),
    "technologyreview.com": lambda n: _first_match(
        n, '[class*="columnArea--fullStory__wrapper"]'
    ),
}


def _adjust_candidate_for_host(node: Node, host: str) -> Node:
    adjuster = _HOST_CANDIDATE_ADJUSTERS.get(host)
    if adjuster is None:
        return node
    adjusted = adjuster(node)
    return adjusted if adjusted is not None else node


def _excerpt(text: str, max_length: int = 200) -> str:
    """Whitespace-normalized first ≤200 chars with word-boundary break
    (reference utils.py:36-56)."""
    text = " ".join(text.split())
    if len(text) <= max_length:
        return text
    cut = text[:max_length]
    last_space = cut.rfind(" ")
    if last_space > max_length * 0.7:
        cut = cut[:last_space]
    return cut.rstrip() + "..."


def _failure(url: str, title: str, error: str, nodes_scored: int = 0) -> dict:
    return {
        "url": url,
        "title": title,
        "spans": [],
        "word_count": 0,
        "excerpt": "",
        "success": False,
        "error": error,
        "warnings": [],
        "nodes_scored": nodes_scored,
        "content_html": "",
        "markdown": "",
        "author": None,
        "date_published": None,
        "language": None,
    }


def extract_document(
    html: str | bytes,
    url: str = "",
    options: ExtractOptions | None = None,
) -> dict:
    """Extract the main article from one document.

    Never raises on malformed input: parse/candidate failures return a
    ``success=False`` record (a Spark task must not die on one bad doc,
    reference extractor.py:288-315).
    """
    # Outer guard: whatever goes wrong inside (recursion limits on
    # adversarial nesting, selector edge cases, ...) becomes a failure
    # row; an executor task never dies on one document.
    try:
        return _extract_inner(html, url, options)
    except Exception as exc:  # noqa: BLE001
        return _failure(url, "", f"Extraction error: {exc}")


def _extract_inner(
    html: str | bytes,
    url: str,
    options: ExtractOptions | None,
) -> dict:
    opts = options or ExtractOptions()
    host = normalized_host(url) if url else ""
    memo = DocMemo()

    try:
        doc = parse_html(html)
    except Exception as exc:  # noqa: BLE001 - any parse failure is a row, not a crash
        return _failure(url, "", f"Failed to parse HTML: {exc}")

    # Fused provenance metadata: read the SAME parse, and read it NOW —
    # clean_document is about to strip the head/script elements the
    # metadata lives in.  Attached to every post-parse return (failure
    # rows included: provenance is still real when extraction is not).
    page_meta: dict | None = None
    if opts.emit_metadata:
        from .metadata import metadata_from_doc

        page_meta = metadata_from_doc(doc)

    clean_document(doc, strip_selector_for_host(host))
    title = extract_title(doc, url)

    # One post-order pass fills the whole memo — O(nodes + bytes)
    # instead of the O(nodes × depth) lazy ancestor-chain walks; the
    # tree is frozen from here until ranking completes.
    memo.prime(doc)

    # Candidate stage (tracked for lineage metrics).
    candidates = discover_candidates(doc, memo)
    if not candidates:
        body = doc.query("body")
        if body:
            candidates = [body[0]]
        elif doc.children:
            # Fragment without <body> (the reference's DOM library
            # synthesizes one; ours does not): fall back to the
            # document root so fragments still extract.
            candidates = [doc]
    nodes_scored = len(candidates)
    if not candidates:
        return _failure(url, title, "Could not find main content") | {
            "page_meta": page_meta
        }
    ranked = rank(candidates, memo)
    if not ranked:
        return _failure(
            url, title, "Could not find main content", nodes_scored
        ) | {"page_meta": page_meta}
    top = refine_top(ranked).node

    top = _adjust_candidate_for_host(top, host)

    if url:
        absolutize_urls(top, url)
    sanitize_content(top, remove_boilerplate=host not in _KEEP_BOILERPLATE_HOSTS)
    host_specific_cleanup(top, host)
    if opts.safe_output:
        safe_mode_clean(top)

    try:
        spans = dom_to_spans(top)
        text = top.to_text(separator=" ", strip=True)
        if host == "infoworld.com":
            text = rules.RX_INFOWORLD_CSS_ARTIFACT.sub("", text)
            for span in spans:
                if span["kind"] == "text":
                    span["text"] = rules.RX_INFOWORLD_CSS_ARTIFACT.sub(
                        "", span["text"]
                    ).strip()
            spans = [
                s for s in spans if s["kind"] == "media" or s["text"]
            ]
            for offset, span in enumerate(spans):
                span["offset"] = offset
        content_html = top.to_html() if opts.emit_html else ""
        markdown = top.to_markdown() if opts.emit_markdown else ""
        if host == "infoworld.com":
            if content_html:
                content_html = rules.RX_INFOWORLD_CSS_ARTIFACT.sub("", content_html)
            if markdown:
                markdown = rules.RX_INFOWORLD_CSS_ARTIFACT.sub("", markdown)
    except Exception as exc:  # noqa: BLE001
        return _failure(
            url, title, f"Failed to extract content: {exc}", nodes_scored
        ) | {"page_meta": page_meta}

    word_count = len(text.split())
    warnings: list[str] = []
    if word_count < opts.min_word_count:
        warnings.append(
            f"Content below minimum word count "
            f"({word_count} < {opts.min_word_count})"
        )

    return {
        "url": url,
        "title": title,
        "spans": spans,
        "word_count": word_count,
        "excerpt": _excerpt(text),
        "success": True,
        "error": None,
        "warnings": warnings,
        "nodes_scored": nodes_scored,
        "content_html": content_html,
        "markdown": markdown,
        # Declared by the reference's ArticleResult (types.py:28-30) but
        # never populated there either — schema parity, default None.
        "author": None,
        "date_published": None,
        "language": None,
        "page_meta": page_meta,
    }
