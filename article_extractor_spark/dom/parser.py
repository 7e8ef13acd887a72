"""HTML → Node tree, built on stdlib ``html.parser.HTMLParser``.

Implements the tolerant-parse behavior the extraction pipeline needs:
HTML5-ish auto-closing of ``p``/``li``/table cells, void elements,
mismatched end tags ignored, entities decoded (``convert_charrefs``).
The reference itself uses stdlib HTMLParser for its link extraction
(crawler.py:635-652), so the pattern is proven; this is a full tree
builder rather than a streaming scraper.
"""

from __future__ import annotations

from html.parser import HTMLParser

from .node import TEXT, VOID_TAGS, Node

# Opening any of these closes an open <p> (HTML5 §8.1.2.4-ish).
_P_CLOSERS = frozenset(
    {
        "address",
        "article",
        "aside",
        "blockquote",
        "details",
        "div",
        "dl",
        "fieldset",
        "figcaption",
        "figure",
        "footer",
        "form",
        "h1",
        "h2",
        "h3",
        "h4",
        "h5",
        "h6",
        "header",
        "hr",
        "main",
        "menu",
        "nav",
        "ol",
        "p",
        "pre",
        "section",
        "table",
        "ul",
    }
)

# tag -> ordered close passes: each set is applied in turn so e.g. a new
# <tr> first closes an open cell, then the open row.
_SIBLING_CLOSERS: dict[str, tuple[frozenset[str], ...]] = {
    "li": (frozenset({"li"}),),
    "dt": (frozenset({"dt", "dd"}),),
    "dd": (frozenset({"dt", "dd"}),),
    "td": (frozenset({"td", "th"}),),
    "th": (frozenset({"td", "th"}),),
    "tr": (frozenset({"td", "th"}), frozenset({"tr"})),
    "option": (frozenset({"option"}),),
    "optgroup": (frozenset({"option"}), frozenset({"optgroup"})),
    "tbody": (
        frozenset({"td", "th"}),
        frozenset({"tr"}),
        frozenset({"thead", "tbody", "tfoot"}),
    ),
    "tfoot": (
        frozenset({"td", "th"}),
        frozenset({"tr"}),
        frozenset({"thead", "tbody", "tfoot"}),
    ),
}

# Implicit-close scope barriers: never auto-close past these.
_SCOPE_BARRIERS = frozenset(
    {"html", "body", "div", "section", "article", "main", "table", "template"}
)

_P_ONLY = frozenset({"p"})

# tag → every close pass it triggers (the <p> pass first, then sibling
# passes) — ONE dict probe per start tag on the hot path instead of a
# set test + a second dict get, and no frozenset construction per tag.
_AUTO_CLOSE_PASSES: dict[str, tuple[frozenset[str], ...]] = {}
for _t in _P_CLOSERS:
    _AUTO_CLOSE_PASSES[_t] = (_P_ONLY,)
for _t, _passes in _SIBLING_CLOSERS.items():
    _AUTO_CLOSE_PASSES[_t] = _AUTO_CLOSE_PASSES.get(_t, ()) + _passes
del _t, _passes


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node("#document")
        self._stack: list[Node] = [self.root]
        self._suppress_cdata = False

    # -- helpers ------------------------------------------------------

    @property
    def _top(self) -> Node:
        return self._stack[-1]

    def _close_through(self, closable: frozenset[str]) -> None:
        """Pop the stack through the nearest tag in ``closable``, stopping
        at scope barriers (never implicitly close a div/table/etc.)."""
        for i in range(len(self._stack) - 1, 0, -1):
            name = self._stack[i].name
            if name in closable:
                del self._stack[i:]
                return
            if name in _SCOPE_BARRIERS:
                return

    def _auto_close(self, tag: str) -> None:
        passes = _AUTO_CLOSE_PASSES.get(tag)
        if passes is not None:
            for closable in passes:
                self._close_through(closable)

    # -- HTMLParser hooks ---------------------------------------------

    def set_cdata_mode(self, elem: str) -> None:  # type: ignore[override]
        # A <style> opened inside a phrase context is treated as
        # transparent (its CSS parses as visible text) — matching the
        # reference DOM library's behavior on which the golden corpus
        # depends (infoworld angular fixture: leaked Word-paste CSS
        # inside a <p> survives as article text and is then scrubbed by
        # the host regex, reference extractor.py:208-211,353-356).
        if self._suppress_cdata:
            self._suppress_cdata = False
            return
        super().set_cdata_mode(elem)

    # NOTE: both tokenizers (stdlib parse_starttag/parse_endtag and
    # fast_parser.feed_fast) lowercase tag names before invoking these
    # hooks, so the handlers do NOT re-lowercase — these run once per
    # DOM node on the hot path.

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "style" and any(n.name == "p" for n in self._stack):
            self._suppress_cdata = True
            return
        passes = _AUTO_CLOSE_PASSES.get(tag)
        if passes is not None:
            for closable in passes:
                self._close_through(closable)
        attr_dict: dict[str, str] = {}
        if attrs:
            for key, value in attrs:
                if key not in attr_dict:  # first occurrence wins (HTML spec)
                    attr_dict[key] = value if value is not None else ""
        node = Node(tag, attr_dict)
        node.parent = self._stack[-1]
        self._stack[-1].children.append(node)
        if tag not in VOID_TAGS:
            self._stack.append(node)

    def handle_startendtag(self, tag: str, attrs) -> None:
        self._auto_close(tag)
        attr_dict: dict[str, str] = {}
        if attrs:
            for key, value in attrs:
                if key not in attr_dict:
                    attr_dict[key] = value if value is not None else ""
        self._stack[-1].append_child(Node(tag, attr_dict))

    # -- dict-shaped fast-tokenizer hooks -------------------------------
    # Same semantics as handle_starttag/handle_startendtag, taking the
    # attrs already in this builder's native dict shape (first
    # occurrence wins, valueless → "" — _parse_attrs_dict guarantees
    # both), so the per-tag conversion loop disappears from the hot
    # path.  The stdlib tokenizer keeps using the list-shaped hooks.

    def handle_starttag_attrs(self, tag: str, attr_dict: dict) -> None:
        if tag == "style" and any(n.name == "p" for n in self._stack):
            self._suppress_cdata = True
            return
        passes = _AUTO_CLOSE_PASSES.get(tag)
        if passes is not None:
            for closable in passes:
                self._close_through(closable)
        node = Node(tag, attr_dict)
        node.parent = self._stack[-1]
        self._stack[-1].children.append(node)
        if tag not in VOID_TAGS:
            self._stack.append(node)

    def handle_startendtag_attrs(self, tag: str, attr_dict: dict) -> None:
        self._auto_close(tag)
        self._stack[-1].append_child(Node(tag, attr_dict))

    def handle_endtag(self, tag: str) -> None:
        if tag in VOID_TAGS:
            return
        # Pop to the matching open tag if present; ignore stray end tags.
        for i in range(len(self._stack) - 1, 0, -1):
            if self._stack[i].name == tag:
                del self._stack[i:]
                return

    def handle_data(self, data: str) -> None:
        if not data:
            return
        top = self._stack[-1]
        children = top.children
        if children and children[-1].name == TEXT:
            children[-1].text += data
        else:
            text_node = Node(TEXT, text=data)
            text_node.parent = top
            children.append(text_node)

    def in_rawtext(self, tag: str) -> bool:
        """Fast-tokenizer hook: did the just-handled start tag actually
        enter rawtext (script/style) mode?  False when the style-in-p
        rule swallowed the tag (its content must parse as normal
        markup), mirroring the suppressed ``set_cdata_mode`` above."""
        return self._stack[-1].name == tag

    # Comments, PIs, declarations: not part of the content model.
    def handle_comment(self, data: str) -> None:
        return

    def handle_decl(self, decl: str) -> None:
        return

    def handle_pi(self, data: str) -> None:
        return

    def unknown_decl(self, data: str) -> None:
        return


def _decode(html: str | bytes) -> str:
    if isinstance(html, bytes):
        try:
            return html.decode("utf-8")
        except UnicodeDecodeError:
            return html.decode("latin-1")
    return html


def parse_html_stdlib(html: str | bytes) -> Node:
    """Parse via the stdlib ``html.parser`` tokenizer (the semantic
    reference implementation; the fast tokenizer is differential-tested
    against it)."""
    builder = _TreeBuilder()
    builder.feed(_decode(html))
    builder.close()
    return builder.root


def parse_html(html: str | bytes) -> Node:
    """Parse HTML into a ``#document`` root node.

    Bytes are decoded UTF-8 with a latin-1 fallback, matching the
    reference's input handling (extractor.py:279-283).  Tokenization
    uses the fast scanner (dom/fast_parser.py, ~2× less CPU on the
    50%-of-kernel parse stage) feeding this module's tree builder;
    ``parse_html_stdlib`` is the differential reference.
    """
    from .fast_parser import feed_fast

    builder = _TreeBuilder()
    feed_fast(builder, _decode(html))
    return builder.root
