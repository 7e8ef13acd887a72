"""Pure-Python extraction pipeline (no Spark imports).

Re-expresses the readability-style extraction semantics of the reference
(pankaj28843/article-extractor, see SURVEY.md §2.1 operators E1-E30) as a
side-effect-free function ``extract_document(html, url) -> dict`` that
runs unchanged inside a vectorized Spark ``mapInArrow`` batch or in a
plain pytest.
"""

from .pipeline import ExtractOptions, extract_document
from .spans import html_fragment_to_spans, spans_to_html

__all__ = [
    "ExtractOptions",
    "extract_document",
    "html_fragment_to_spans",
    "spans_to_html",
]
