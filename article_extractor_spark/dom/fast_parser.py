"""Fast HTML tokenizer driving the same tree builder as the stdlib path.

Profiling puts ~50% of per-document extraction CPU inside stdlib
``html.parser`` tokenization (``goahead``/``parse_starttag``).  This
module re-implements ONLY the tokenizer — a tight scanning loop over
``str.find`` + two precompiled regexes — and feeds the exact same
``_TreeBuilder`` handler methods (``handle_starttag`` / ``handle_data``
/ …), so every tree-construction rule (auto-close, scope barriers,
style-in-p transparency, void elements) lives in one place
(``dom/parser.py``) regardless of tokenizer.

Fidelity contract: for any input with recoverable tag structure —
every golden fixture (28 real web pages), every synthetic template,
and a curated adversarial battery (malformed nesting, EOF truncation,
rawtext edge cases, entity soup) — the resulting tree serializes
IDENTICALLY to the stdlib-tokenized tree; this is enforced by
differential tests (tests/test_dom.py).  On pathological random tag
soup (unbalanced quotes inside half-open tags, interleaved ``</`` junk)
the two tokenizers may segment garbage differently — both still return
a tree and never raise, and the extraction pipeline's outer guard turns
any downstream surprise into a ``success=false`` row.
``parser.parse_html_stdlib`` keeps the stdlib tokenizer as the
differential reference.

Tokenizer behaviors mirrored from stdlib HTMLParser
(convert_charrefs=True):

- charrefs decoded in text data and attribute values (``html.unescape``)
  but NOT inside script/style rawtext;
- script/style content is rawtext until the matching close tag
  (case-insensitive), unless the builder's style-in-p rule swallowed
  the start tag (``builder.in_rawtext`` reports whether rawtext mode
  actually began);
- a tag is self-closing when, after tolerant attribute tokenization,
  exactly a ``/`` remains before ``>`` (stdlib's ``end == '/>'`` rule —
  an unquoted value may legitimately end in ``/`` and is NOT
  self-closing);
- ``<!-- -->`` comments, ``<![CDATA[ ]]>`` sections, ``<!...>``
  declarations and ``<?...>`` PIs are skipped; a ``<`` that opens no
  recognizable construct is literal text.
"""

from __future__ import annotations

import re
from html import unescape

# Start-tag name, mirroring stdlib's tagfind_tolerant charset
# (anything but whitespace, '/', '>', NUL — so '<h<>' names the tag
# 'h<').  The tag END is NOT located by a regex of its own: stdlib
# (check_for_whole_start_tag) first scans the attribute soup with
# locatestarttagend_tolerant and only then looks at the stop
# character, so a quote opens a region ONLY in value position
# (immediately after an attr name's '=') — in 'b=nclick=\'x</nav>y\''
# the first '=' starts a BARE value that swallows the second '=' and
# the quote as plain chars, and the '>' inside the would-be quotes
# terminates the tag.  An earlier design here located the '>' first
# with its own quoted-region alternation and diverged on exactly that
# shape (found by the extraction fuzzer); _SOUP_SCAN_RE below is now
# the single source of truth for where a start tag ends.
_NAME_RE = re.compile(r"<([a-zA-Z][^\t\n\r\f />\x00]*)")

# End tags, mirroring stdlib parse_endtag's two tiers: the strict form
# (optional whitespace, name, optional whitespace, '>'), then the
# tolerant fallback — name immediately after '</' (same charset as
# start tags), junk to the next '>' discarded ('</p<>' ends tag 'p<').
_END_STRICT_RE = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_END_NAME_RE = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)")

# Tolerant attribute: name (stdlib's attrfind_tolerant char classes:
# the first name char may be '=' but not '/'), optionally =value with
# double/single/no quoting (unquoted values may contain '/').
_ATTR_RE = re.compile(
    r"([^\s/>][^\s/>=]*)"
    r"(\s*=+\s*(?:\"([^\"]*)\"|'([^']*)'|((?!['\"])[^\s>]*)))?"
)

# Marked sections (stdlib parse_marked_section): <![KEYWORD ... with
# the closer depending on the keyword; unknown keywords make stdlib
# RAISE AssertionError — we take the bogus-comment path instead (never
# crash on crawled garbage).
_MS_NAME_RE = re.compile(r"([a-zA-Z][-_.a-zA-Z0-9]*)\s*")
_MS_CLOSE_RE = re.compile(r"]\s*]\s*>")
_MS_IE_CLOSE_RE = re.compile(r"]\s*>")
_COMMENT_CLOSE_RE = re.compile(r"--\s*>")
_MS_SGML = ("temp", "cdata", "ignore", "include", "rcdata")
_MS_IE = ("if", "else", "endif")

_RAWTEXT_CLOSE = {
    "script": re.compile(r"</\s*script\s*>", re.IGNORECASE),
    "style": re.compile(r"</\s*style\s*>", re.IGNORECASE),
}


# Attr-soup scan: stdlib's locatestarttagend_tolerant (Python 3.11)
# minus its leading <name part — matched against the DOCUMENT at the
# position right after the tag name (not an extracted soup slice), so
# the (?<=['"\s/]) attr-name lookbehind sees real context.  Leading
# [\s/]* (any '/', even one before '>'); attr name; value indicator
# '=+' then single-/double-/un-quoted value (bare values may not
# START with a quote — this is what keeps a quote mid-bare-value from
# opening a region); '\s*' after a value; junk (whitespace /
# non-closing '/') between attributes; trailing whitespace.  Where
# this scan STOPS decides everything (check_for_whole_start_tag):
# '>' → whole tag; '/>' → whole self-closing tag; EOF or letter or
# '=' or '/' → unterminated (close()-time bogus-data recovery);
# anything else → the scanned prefix is literal data.
_SOUP_SCAN_RE = re.compile(
    r"[\s/]*"
    r"(?:(?<=['\"\s/])[^\s/>][^\s/=>]*"
    r"(?:\s*=+\s*(?:'[^']*'|\"[^\"]*\"|(?!['\"])[^>\s]*)\s*)?"
    r"(?:\s|/(?!>))*)*"
    r"\s*"
)


def _recover_unterminated(builder, html: str, lt: int, n: int) -> int:
    """stdlib close()-time recovery for an unterminated construct at
    ``lt`` (goahead's bogus-data path): emit up to and including the
    next '>' as data — charref-decoded, like stdlib's
    convert_charrefs recovery — and resume after it; with no '>',
    emit up to the next '<' (or just the '<') and resume there."""
    gt = html.find(">", lt + 1)
    if gt >= 0:
        k = gt + 1
    else:
        k = html.find("<", lt + 1)
        if k < 0:
            # stdlib: k = i + 1 — only the '<' is bogus data; the rest
            # re-parses as ordinary text
            k = lt + 1
    data = html[lt:k]
    builder.handle_data(unescape(data) if "&" in data else data)
    return k


def _parse_attrs(soup: str) -> tuple[list[tuple[str, str | None]], bool]:
    """Tokenize the attr soup; returns (attrs, self_closing)."""
    attrs: list[tuple[str, str | None]] = []
    last_end = 0
    for m in _ATTR_RE.finditer(soup):
        name, has_val, v3, v4, v5 = m.group(1, 2, 3, 4, 5)
        name = name.lower()
        if has_val is None:
            attrs.append((name, None))
        else:
            value = v3 if v3 is not None else (v4 if v4 is not None else v5 or "")
            if "&" in value:
                value = unescape(value)
            attrs.append((name, value))
        last_end = m.end()
    trailing = soup[last_end:].strip()
    return attrs, trailing == "/"


# Parsed-soup memo: page chrome repeats the same attr strings across
# millions of documents (class="nav", href="/privacy", ...) — measured
# repeat ratio >95% on template-driven corpora — so the regex tokenize
# runs once per distinct soup and repeats pay only a tiny-dict copy.
# The COPY is load-bearing: extraction mutates node.attrs in place
# (urls.py absolutize, sanitize.py attr filtering), so cached dicts
# must never be shared between nodes.  Long soups (inline style blobs,
# data: URIs) are excluded — they rarely repeat and would bloat keys.
_SOUP_MEMO: dict[str, tuple[dict[str, str], bool]] = {}
_SOUP_MEMO_MAX = 8192
_SOUP_KEY_MAX = 512


def _parse_attrs_dict(soup: str) -> tuple[dict[str, str], bool]:
    """Tokenize the attr soup straight into the builder's dict shape:
    first occurrence wins (HTML spec), valueless attr → "".  Exactly
    ``_parse_attrs`` composed with the tree-builder's conversion loop,
    minus the intermediate tuple list."""
    hit = _SOUP_MEMO.get(soup)
    if hit is not None:
        attrs, trailing_slash = hit
        return attrs.copy(), trailing_slash
    attrs = _parse_attrs_dict_uncached(soup)
    if len(soup) <= _SOUP_KEY_MAX:
        if len(_SOUP_MEMO) >= _SOUP_MEMO_MAX:
            _SOUP_MEMO.clear()
        _SOUP_MEMO[soup] = (attrs[0].copy(), attrs[1])
    return attrs


def _parse_attrs_dict_uncached(soup: str) -> tuple[dict[str, str], bool]:
    attrs: dict[str, str] = {}
    last_end = 0
    for m in _ATTR_RE.finditer(soup):
        name, has_val, v3, v4, v5 = m.group(1, 2, 3, 4, 5)
        name = name.lower()
        if name not in attrs:
            if has_val is None:
                attrs[name] = ""
            else:
                value = (
                    v3 if v3 is not None else (v4 if v4 is not None else v5 or "")
                )
                attrs[name] = unescape(value) if "&" in value else value
        last_end = m.end()
    trailing = soup[last_end:].strip()
    return attrs, trailing == "/"


def feed_fast(builder, html: str) -> None:
    """Tokenize ``html`` and drive ``builder``'s HTMLParser-style hooks."""
    pos = 0
    n = len(html)
    find = html.find
    handle_data = builder.handle_data
    handle_starttag = builder.handle_starttag
    handle_endtag = builder.handle_endtag
    # optional dict-shaped start-tag hooks (the tree builder's native
    # attr shape); tokenizing straight into a dict skips a per-tag
    # tuple-list allocation + conversion loop
    starttag_attrs = getattr(builder, "handle_starttag_attrs", None)
    startendtag_attrs = getattr(builder, "handle_startendtag_attrs", None)
    if startendtag_attrs is None:
        starttag_attrs = None
    name_match = _NAME_RE.match
    soup_scan = _SOUP_SCAN_RE.match
    while pos < n:
        lt = find("<", pos)
        if lt < 0:
            data = html[pos:]
            handle_data(unescape(data) if "&" in data else data)
            break
        if lt > pos:
            data = html[pos:lt]
            handle_data(unescape(data) if "&" in data else data)
        nxt = html[lt + 1] if lt + 1 < n else ""
        if nxt == "/":
            gt = find(">", lt + 1)
            if gt < 0:
                # no '>' anywhere: stdlib endendtag fails → close()
                # recovery emits the bogus data
                pos = _recover_unterminated(builder, html, lt, n)
                continue
            # dominant case ("</p>", "</h1>"): the run between "</" and
            # ">" is exactly [a-zA-Z][a-zA-Z0-9]* — a strict subset of
            # _END_STRICT_RE's grammar (which also allows -._: and
            # surrounding whitespace), handled without the regex
            seg = html[lt + 2 : gt]
            if seg and seg.isascii() and seg.isalnum() and seg[0].isalpha():
                handle_endtag(seg.lower())
                pos = gt + 1
                continue
            m = _END_STRICT_RE.match(html, lt)
            if m:
                handle_endtag(m.group(1).lower())
                pos = m.end()
                continue
            nm = _END_NAME_RE.match(html, lt + 2)
            if nm:
                # tolerant: fire the end tag, discard junk to '>'
                handle_endtag(nm.group(1).lower())
                gt = find(">", nm.end())
                pos = (gt + 1) if gt >= 0 else n
                continue
            # no name at all: '</>' consumed whole, otherwise a bogus
            # comment — consumed silently through the next '>'
            # (stdlib parse_endtag → parse_bogus_comment)
            if html.startswith("</>", lt):
                pos = lt + 3
            else:
                pos = find(">", lt + 2) + 1  # '>' exists per the guard
            continue
        if nxt == "!":
            if html.startswith("<!--", lt):
                cm = _COMMENT_CLOSE_RE.search(html, lt + 4)
                if cm is None:  # unterminated: stdlib bogus-data recovery
                    pos = _recover_unterminated(builder, html, lt, n)
                    continue
                pos = cm.end()
                continue
            if html.startswith("<![", lt):
                nm = _MS_NAME_RE.match(html, lt + 3)
                kw = nm.group(1).lower() if nm else ""
                if kw in _MS_SGML or kw in _MS_IE:
                    closer = (
                        _MS_CLOSE_RE if kw in _MS_SGML else _MS_IE_CLOSE_RE
                    ).search(html, lt + 3)
                    if closer is None:  # unterminated marked section
                        pos = _recover_unterminated(builder, html, lt, n)
                        continue
                    pos = closer.end()
                    continue
                # unknown keyword: stdlib parse_marked_section RAISES
                # AssertionError here — crawled garbage must never
                # crash, so fall through to the bogus-comment skip
            gt = find(">", lt)
            if gt < 0:
                pos = _recover_unterminated(builder, html, lt, n)
                continue
            pos = gt + 1
            continue
        if nxt == "?":
            gt = find(">", lt)
            if gt < 0:
                pos = _recover_unterminated(builder, html, lt, n)
                continue
            pos = gt + 1
            continue
        if not ("a" <= nxt <= "z" or "A" <= nxt <= "Z"):
            # '<' opening no construct: literal text (stdlib behavior)
            handle_data("<")
            pos = lt + 1
            continue
        gt = find(">", lt + 1)
        if gt > lt + 1:
            # dominant case ("<p>", "<h1>", "<li>"): everything between
            # "<" and ">" is exactly [a-zA-Z][a-zA-Z0-9]* — no attr
            # soup, no quotes, no "/" — a strict subset of _START_RE
            # with empty soup, handled without the regex.  The alnum
            # guard means the slice cannot contain a quote, so the
            # quoted-'>' hazard _START_RE exists for cannot arise.
            seg = html[lt + 1 : gt]
            if seg.isascii() and seg.isalnum():
                tag = seg.lower()
                pos = gt + 1
                handle_starttag(tag, [])
                closer = _RAWTEXT_CLOSE.get(tag)
                if closer is not None and builder.in_rawtext(tag):
                    cm = closer.search(html, pos)
                    if cm:
                        raw = html[pos:cm.start()]
                        if raw:
                            handle_data(raw)  # rawtext: no charrefs
                        handle_endtag(tag)
                        pos = cm.end()
                    else:
                        # unterminated rawtext: content dropped (stdlib)
                        pos = n
                continue
        m = name_match(html, lt)  # always matches: nxt is a letter
        tag = m.group(1).lower()
        name_end = m.end()
        j = soup_scan(html, name_end).end()
        stop = html[j] if j < n else ""
        if stop == ">":
            endpos = j + 1
            soup = html[name_end:j]
        elif stop == "/" and html.startswith("/>", j):
            endpos = j + 2
            soup = html[name_end : j + 1]  # keep '/': self-closing marker
        elif (
            stop == ""
            or stop == "="
            or stop == "/"
            or ("a" <= stop <= "z")
            or ("A" <= stop <= "Z")
        ):
            # stdlib check_for_whole_start_tag's -1 paths ("end of
            # input in or before attribute value", bare '/' at EOF)
            # → close()-time bogus-data recovery (the WHOLE run to
            # the next '>' is literal data, charref-decoded)
            pos = _recover_unterminated(builder, html, lt, n)
            continue
        else:
            # other junk (NUL, stray quote, ','): the scanned prefix
            # is literal data, parsing resumes there — this is NOT a
            # tag (check_for_whole_start_tag's `return j` path +
            # parse_starttag's end-not-'>' data emission, raw)
            handle_data(html[lt:j])
            pos = j
            continue
        if not soup:
            # dominant case in article markup (<p>, <h1>, <main>, …):
            # no attr soup at all — skip the tokenizer call entirely
            pos = endpos
            handle_starttag(tag, [])
            closer = _RAWTEXT_CLOSE.get(tag)
            if closer is not None and builder.in_rawtext(tag):
                cm = closer.search(html, pos)
                if cm:
                    raw = html[pos:cm.start()]
                    if raw:
                        handle_data(raw)  # rawtext: no charrefs
                    handle_endtag(tag)
                    pos = cm.end()
                else:
                    pos = n
            continue
        if starttag_attrs is not None:
            # builder accepts the dict shape directly: skip the
            # tuple-list round trip through handle_starttag
            attr_dict, self_closing = _parse_attrs_dict(soup)
            pos = endpos
            if self_closing:
                startendtag_attrs(tag, attr_dict)
                continue
            starttag_attrs(tag, attr_dict)
        else:
            attrs, self_closing = _parse_attrs(soup)
            pos = endpos
            if self_closing:
                builder.handle_startendtag(tag, attrs)
                continue
            handle_starttag(tag, attrs)
        closer = _RAWTEXT_CLOSE.get(tag)
        if closer is not None and builder.in_rawtext(tag):
            cm = closer.search(html, pos)
            if cm:
                raw = html[pos:cm.start()]
                if raw:
                    handle_data(raw)  # rawtext: no charrefs
                handle_endtag(tag)
                pos = cm.end()
            else:
                # no closing tag: stdlib buffers forever and close()
                # DROPS the unterminated rawtext content — element
                # stays, content gone
                pos = n
