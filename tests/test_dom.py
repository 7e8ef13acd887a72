"""Unit tests for the DOM kernel (parser, selector, serialization)."""

from __future__ import annotations

from article_extractor_spark.dom import parse_html
from conftest import GOLDEN_ROOT, requires_golden


def test_basic_tree_and_query():
    doc = parse_html(
        '<html><body><div id="a" class="x y"><p>one</p><p>two</p></div></body></html>'
    )
    assert len(doc.query("p")) == 2
    assert doc.query("#a")[0].name == "div"
    assert doc.query(".y")[0].attrs["id"] == "a"
    assert doc.query("div.x")[0].attrs["id"] == "a"
    assert doc.query("p, div") and len(doc.query("p, div")) == 3


def test_attribute_selectors():
    doc = parse_html(
        '<div role="main"></div><meta property="og:title" content="T">'
        '<div id="header-menu-3"></div><div class="colArea--fullStory__wrapper x"></div>'
    )
    assert doc.query('[role="main"]')[0].name == "div"
    assert doc.query('meta[property="og:title"]')[0].attrs["content"] == "T"
    assert doc.query('[id^="header-menu-"]')[0].attrs["id"] == "header-menu-3"
    assert doc.query('[class*="fullStory__wrapper"]')[0].name == "div"


def test_auto_close_p_and_li():
    doc = parse_html("<body><p>one<p>two<ul><li>a<li>b</ul></body>")
    ps = doc.query("p")
    assert [p.to_text() for p in ps] == ["one", "two"]
    lis = doc.query("li")
    assert [li.to_text() for li in lis] == ["a", "b"]
    # lis are siblings, not nested
    assert lis[1].parent.name == "ul"


def test_div_closes_open_p():
    doc = parse_html("<body><p>text<div>inner</div></body>")
    p = doc.query("p")[0]
    assert p.to_text() == "text"
    assert not p.query("div")


def test_void_and_startend_tags():
    doc = parse_html('<p>a<br>b<img src="/x.jpg">c</p><hr/>')
    p = doc.query("p")[0]
    assert p.to_text() == "a b c"
    assert doc.query("img")[0].attrs["src"] == "/x.jpg"


def test_stray_end_tags_ignored():
    doc = parse_html("<div>a</span></div></div><p>b</p>")
    assert doc.query("div")[0].to_text() == "a"
    assert doc.query("p")[0].to_text() == "b"


def test_entities_decoded():
    doc = parse_html("<p>a &amp; b &lt;c&gt; &#8212; d</p>")
    assert doc.query("p")[0].to_text() == "a & b <c> — d"


def test_script_style_cdata():
    doc = parse_html(
        "<head><script>if (a < b) { x = '<p>no</p>'; }</script>"
        "<style>p { color: red; }</style></head><body><p>real</p></body>"
    )
    assert len(doc.query("p")) == 1
    script = doc.query("script")[0]
    assert "<p>no</p>" in script.to_text(strip=False)


def test_style_inside_p_is_transparent():
    # Matches the reference DOM behavior the infoworld golden fixture
    # depends on: style-in-p leaks its CSS as visible text.
    doc = parse_html("<body><p>before<style>.x { color: red }</style></p></body>")
    assert ".x { color: red }" in doc.query("p")[0].to_text()
    assert not doc.query("style")


def test_remove_child():
    doc = parse_html("<div><span>a</span><span>b</span></div>")
    div = doc.query("div")[0]
    span_a = div.query("span")[0]
    div.remove_child(span_a)
    assert div.to_text() == "b"
    assert span_a.parent is None


def test_bytes_input_with_fallback():
    assert parse_html("<p>héllo</p>".encode()).query("p")[0].to_text() == "héllo"
    latin = "<p>caf\xe9</p>".encode("latin-1")
    assert parse_html(latin).query("p")[0].to_text() == "café"


def test_to_html_roundtrip():
    doc = parse_html('<div class="c"><p>a &amp; b</p><img src="/i.png"></div>')
    html = doc.query("div")[0].to_html()
    assert html.startswith('<div class="c">')
    assert "&amp; b" in html
    reparsed = parse_html(html)
    assert reparsed.query("p")[0].to_text() == "a & b"
    assert reparsed.query("img")[0].attrs["src"] == "/i.png"


def test_to_markdown_basics():
    doc = parse_html(
        '<div><h2>Head</h2><p>Body <a href="/x">link</a> and <strong>bold</strong>.</p>'
        "<pre>code()</pre><ul><li>one</li></ul></div>"
    )
    md = doc.query("div")[0].to_markdown()
    assert "## Head" in md
    assert "[link](/x)" in md
    assert "**bold**" in md
    assert "```\ncode()\n```" in md
    assert "- one" in md


def test_table_structure():
    doc = parse_html(
        "<table><tr><td>a<td>b<tr><td>c</table>"
    )
    rows = doc.query("tr")
    assert len(rows) == 2
    assert [td.to_text() for td in doc.query("td")] == ["a", "b", "c"]


def test_duplicate_attrs_first_wins():
    doc = parse_html('<div class="first" class="second">x</div>')
    assert doc.query("div")[0].attrs["class"] == "first"


# ---------------------------------------------------------------------------
# Fast tokenizer (dom/fast_parser.py) fidelity vs the stdlib tokenizer
# ---------------------------------------------------------------------------

_DIFFERENTIAL_CASES = [
    "", "<", "<div", "plain text only", "a < b and c > d",
    "<div class='a'><p>x", "<p>a<p>b<p>c", "<b><i>x</b></i>",
    "<div/><p/>text", "<a href=foo/>y</a>", '<a href="x>y">z</a>',
    "<img src='a.png'/><br><hr/>", "<script>if (a<b) x();</script><p>t</p>",
    "<style>p {color: red}</style><p>ok</p>",
    "<p><style>.x{a:b}</style>css leak</p>",
    "<!-- comment --><p>x</p>", "<!-- unterminated", "<!doctype html><p>x</p>",
    "<?php echo ?><p>x</p>", "<![CDATA[ raw <b> ]]><p>x</p>",
    "<p>&amp; &lt;tag&gt; &#65; &nbsp;</p>",
    "<a title='it&apos;s'>q</a>", "<A HREF='X'>c</A>",
    "<td>no table</td>", "<ul><li>a<li>b</ul>",
    "<table><tr><td>1<td>2<tr><td>3</table>",
    "<div a b=2 c='3' d=\"4\">x</div>", "<div a=>x</div>",
    "<div  a = '1'  >x</div>", "</nothing><p>x</p>", "</ ><p>y</p>",
    "<p>a</p junk><p>b</p>", "<select><option>a<option>b</select>",
    "<dl><dt>t<dd>d<dt>t2</dl>", "<em>unclosed <p>para</p>",
    "<script src='x'></script>after", "<script>no close",
    "<style>@import 'x';", "<textarea><p>not parsed?</p></textarea>",
    "<svg><circle/></svg>", "<math><mi>x</mi></math>",
    "<div>" * 200 + "deep" + "</div>" * 200,
    "<p>" + "é∂ƒ unicode ü " * 50 + "</p>",
    "<div data-x='{\"a\": 1, \"b\": [2]}'>json attr</div>",
    "< notatag>", "<1digit>", "<-dash>",
    "text &notanentity; more", "&#x41;&#X41;&#65;",
    "<br/></br><br>", "<p =weird>x</p>",
    "<? unterminated", "<!x unterminated", "<![CDATA[ unterminated",
    "<a href='x' href='y'>dup</a>", "<p class>bare</p>",
    "<sCrIpT>a<b</ScRiPt>done", "<style >css</style >",
    "<script type='t'>x</script><style media=print>y</style>z",
    # boundary cases for the alnum-slice tokenizer fast paths: each
    # pair straddles the subset grammar (exact [a-zA-Z][a-zA-Z0-9]*
    # between the brackets) and its regex fallback
    "<P>upper</P>", "<h1>digit tag</h1>", "<p >space soup</p >",
    "</p\t>tab in end tag", "</h-1>dash end tag", "<x-y>dash start</x-y>",
    "<pé>unicode tag</pé>", "</pé>unicode end",
    "<script>raw</script>", "<style>.c{}</style>",
    "<script\t>spaced rawtext</script>", "<br>", "<wbr/>",
    "<p1>digit-suffix tag</p1>", "</p1>", "<em9/>",
]


def test_fast_parser_differential_curated():
    """The fast tokenizer must produce a byte-identical tree to the
    stdlib tokenizer on every curated case (malformed nesting, EOF
    truncation, rawtext, entity and attribute edge cases)."""
    from article_extractor_spark.dom.parser import (
        parse_html,
        parse_html_stdlib,
    )

    for case in _DIFFERENTIAL_CASES:
        assert (
            parse_html(case).to_html() == parse_html_stdlib(case).to_html()
        ), case[:80]


@requires_golden
def test_fast_parser_differential_fixtures():
    """Byte-identical trees on all real golden-fixture pages."""
    from article_extractor_spark.dom.parser import (
        parse_html,
        parse_html_stdlib,
    )

    raws = sorted(str(p) for p in GOLDEN_ROOT.glob("*/*/raw.html"))
    assert len(raws) >= 27
    for raw in raws:
        html = open(raw, encoding="utf-8", errors="replace").read()
        assert (
            parse_html(html).to_html() == parse_html_stdlib(html).to_html()
        ), raw


def test_fast_parser_fuzz_never_crashes():
    """Pathological tag soup may tokenize differently from stdlib (both
    are garbage-in recoveries) but must never raise and must always
    yield a tree."""
    import random

    from article_extractor_spark.dom.parser import parse_html

    rng = random.Random(7)
    alpha = "<>/ab c='\"&;!?-=p\n"
    for _ in range(500):
        s = "".join(
            rng.choice(alpha) for _ in range(rng.randint(1, 150))
        )
        root = parse_html(s)
        assert root.name == "#document"


def test_attr_soup_memo_cold_warm_and_no_aliasing():
    """The parsed-soup memo must be invisible: a warm-cache parse is
    byte-identical to a cold-cache parse, and the cached dict is never
    shared between nodes (extraction mutates node.attrs in place)."""
    from article_extractor_spark.dom import fast_parser
    from article_extractor_spark.dom.parser import parse_html

    html = (
        '<div class="post"><a href="/r/1">one</a>'
        '<a href="/r/1">two</a><img src="/i.png" alt=""></div>'
    )
    fast_parser._SOUP_MEMO.clear()
    cold = parse_html(html)
    warm = parse_html(html)
    assert cold.to_html() == warm.to_html()

    # Two nodes built from the same soup string must own distinct
    # dicts: mutating one (what absolutize_urls does) must not leak.
    links = [n for n in warm.iter_elements() if n.name == "a"]
    assert len(links) == 2
    links[0].attrs["href"] = "https://example.com/r/1"
    assert links[1].attrs["href"] == "/r/1"

    # The memo's stored copy stays pristine too: a third parse after
    # the mutation still yields the original attribute value.
    again = parse_html(html)
    a = next(n for n in again.iter_elements() if n.name == "a")
    assert a.attrs["href"] == "/r/1"

    # Oversized soups bypass the memo (never cached).
    fast_parser._SOUP_MEMO.clear()
    big = " style=\"" + "x" * (fast_parser._SOUP_KEY_MAX + 10) + "\""
    fast_parser._parse_attrs_dict(big)
    assert big not in fast_parser._SOUP_MEMO

    # Cache-full behavior: the memo clears rather than grows unbounded.
    fast_parser._SOUP_MEMO.clear()
    for i in range(fast_parser._SOUP_MEMO_MAX + 5):
        fast_parser._parse_attrs_dict(f' data-i="{i}"')
    assert len(fast_parser._SOUP_MEMO) <= fast_parser._SOUP_MEMO_MAX
