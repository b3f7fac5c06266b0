"""Tokenizer equivalence (kernel/dom.py _scan).

The scanner must drive the tree builder EXACTLY as html.parser's stock
feed() + close() would, and raise AssertionError exactly where the stock
parser raises.  These tests compare full deep tree equality (tags,
attributes, text, structure, captured doc fields) between the two paths
over the golden corpus, an adversarial quirk set, and randomized fragment
soup.
"""

from __future__ import annotations

import glob

import pytest

from hypothesis import given, settings, strategies as st

from go_readability_spark.kernel import dom


def _build(src: str, drive):
    """(document, raised): the tree ``drive`` builds, or raised=True where
    it raises AssertionError (the stock parser's malformed marked
    sections; parse_document maps them to 'parse_error')."""
    doc = dom.new_document("")
    b = dom._DOMBuilder(doc)
    try:
        drive(b)
        b.finish()
    except AssertionError:
        return doc, True
    return doc, False


def _deep_eq(a, b) -> bool:
    if a.node_type != b.node_type:
        return False
    if a.node_type == dom.ELEMENT_NODE and (
        a.tag_name != b.tag_name or a.attributes != b.attributes
    ):
        return False
    if a.node_type == dom.TEXT_NODE and (a._inner_html or "") != (
        b._inner_html or ""
    ):
        return False
    if a.node_type == dom.DOCUMENT_NODE and (a.title or "") != (b.title or ""):
        return False
    if len(a.child_nodes) != len(b.child_nodes):
        return False
    return all(_deep_eq(x, y) for x, y in zip(a.child_nodes, b.child_nodes))


def _assert_equivalent(src: str) -> None:
    """The scanner builds the tree stock feed() builds, or both raise."""
    d1, scan_raised = _build(src, lambda b: dom._scan(src, b))
    d2, feed_raised = _build(src, lambda b: b.feed(src))
    assert scan_raised == feed_raised, (
        f"scanner raised={scan_raised}, feed raised={feed_raised} on {src[:120]!r}"
    )
    if not feed_raised:
        assert _deep_eq(d1, d2), f"scan/feed divergence on {src[:120]!r}"


ADVERSARIAL = [
    "",
    "plain text only",
    "<",
    "a<",
    "<p>x",
    "<p>a < b and c > d</p>",
    "<p>< 5 apples</p>",
    "<!DOCTYPE html><html><head><title>T &amp; t</title></head>"
    "<body><p>x</p></body></html>",
    "<!doctype HTML ><p>y</p>",
    "<!-- c --><p>z</p>",
    "<!--unterminated",
    "<!-- -- ><p>in comment?--><p>after</p>",
    "<TITLE>UP</TITLE>",
    "<title>a<b</title>",
    "<title>no end",
    "<style>p { color: red; } </STYLE ><p>q</p>",
    "<textarea><p>not tags</p></textarea>",
    "<iframe>raw</iframe><xmp><b>x</b></xmp><noembed>n</noembed>"
    "<noframes>f</noframes>",
    "<script>if (a<b) { x(); }</script>",
    "<noscript><img src='x'></noscript>",
    '<p class="a b" id=\'i\' data-x=y hidden>t</p>',
    '<a href="?a=1&amp;b=2">l</a>',
    '<a title="x &lt; y &#65; &unknown;">l</a>',
    "<br/><br /><hr/>",
    '<span attr = "v" >s</span>',
    '<div foo bar="">e</div>',
    "<div a='1' a='2'>dup</div>",
    "<p>über ünïcode ✓</p>",
    "<p>&#x2713; &#10003; &amp; &bogus;</p>",
    '<my-tag x="1">c</my-tag>',
    "<ns:tag>c</ns:tag></ns:tag>",
    "<div><p>mismatched</div></p>",
    "</div>stray end</p>",
    '<div attr="multi\nline">m</div>',
    "<p>trailing <",
    "<?xml version='1.0'?><p>pi</p>",
    "<![CDATA[raw]]><p>c</p>",
    "<!weird><p>after</p>",
    "<div/ ><p>odd</p>",
    "<div =bare>x</div>",
    "<a href=/rel>r</a>",
    "<a b==c>x</a>",
    "<a b=>empty</a>",
    "<p></P></p>",
    "<title>a</title><title>b</title>",
    "<div a<b>strange</div>",
    "<div a\x00b='1'>nul</div>",
    # review findings: unquoted value swallowed by '/>' (attrfind's bare
    # value class includes '/'), and Unicode whitespace after a tag name
    # (tagfind's name class excludes only ASCII ws, so feed() eats it
    # into the NAME — the fast path must match it or leave it to the exact path)
    "<meta charset=utf-8/><p>y</p>",
    "<img src=x.png/><br clear=all/>",
    "<div\xa0id=a>y</div>",
    "<div\x0bid=a>y</div>",
    "<div\x85id=a>y</div>",
    "<div id=a>y</div>",
    "<div\xa0>y</div>",
    "<a href=x/y>l</a>",
    "<a b=1/ c=2>l</a>",
    "<a b=//>l</a>",
    "<a b=/>l</a>",
    '<a b="1"\xa0c="2">l</a>',
    "<a b=1\x0bc=2>l</a>",
    '<a b="1"/>',
    # no-space-after-quoted-value separators (attrfind_tolerant's
    # (?<=['"\s/]) start anchor — once the top real-corpus slow-path class,
    # minified HTML like medium-2's <button ..."data-action="...">)
    '<a b="1"c="2">x</a>',
    "<a b='1'c='2'>x</a>",
    '<button title="x"data-a="1"data-b="2">t</button>',
    '<a b="1"c=\'2\'d=e f="3">x</a>',
    '<a b="1"c>x</a>',
    '<a b="1"c="2"/>',
    '<a b="1"="2">x</a>',
    "<a b=\"1\"'c'>x</a>",
    '<a b=c"d">x</a>',
    '<a b="1" c="2"d="3" >x</a>',
    # quote chars inside attr names (attrfind_tolerant name classes allow
    # them; bbc-1/salon-1/webmd-2 attr soup like `presidency."=""`)
    '<meta content="pass " common="" presidency."=""/><p>x</p>',
    '<a b"c="d">x</a>',
    '<a "b"="c">x</a>',
    '<a x="1""y">x</a>',
    '<a x="1""2"="3">x</a>',
    '<a b"c>x</a>',
    '<a island=" i ":=" " how=" ">x</a>',
    # nameless ="..." after a quoted value (clean-links): exact path
    '<link rel=" s "=" " type="text/css">',
    # marked sections (_markupbase.parse_marked_section parity)
    "<script>/*<![CDATA[*/ var x = 1; /*]]>*/</script>",
    "<![CDATA[raw text]]>",
    "<![CDATA[a]] ]> b]]>",
    "<![cdata[x]]>",
    "<![INCLUDE[y]]>",
    "<![if !IE]>z<![endif]>",
    "<![CDATA[unterminated",
    "<![",
    "<![ bad]]>",
    "<![weird[x]]>",
    "<![RCDATA[q]] >",
    "<![TEMP[t] ] >",
    # '='-led attr names (clean-links)
    '<LINK REL=" stylesheet "=" " type="text/css">x',
    '<a ="x">x',
    '<a = "x">x',
    "<a =>x",
    "<a ==x>x",
    "<a =a=b>x",
    '<a b="x" = c>x',
    "<a =/>x",
    "<a =x=y>x",
    '<a =="">x',
    '<a ="">x',
    '<a ="" b>x',
    "<a ='y' c=d>x",
    '<a "q"="v">x',
    "<a ='>x",
    # guard class: an '=' the fast value alternation can't consume takes
    # the exact path (feed() binds it to the PREVIOUS name via '=+'/bare-'='
    # values)
    "<a b = = c>x",
    "<a b = >x",
    "<a == >x",
    "<a b==c>x",
    "<a =`=`>x",
    # constructs only the exact html.parser paths handle: truncation at
    # EOF (close()-time recovery resumes after the next '>' or '<'),
    # malformed start tags (data), end-tag and declaration oddities, PIs,
    # and the marked sections the stock parser raises on
    "<a", "<a b", "<a b=", "<a b='x", "<a b='x' c", "<a/", "<a/x>", "<a /",
    "<a b=1 / >x", "<a\xa0", "<x!>y", "<a b='1'\x00c>x", "<a b='1'`c>x",
    "<img src=a.png<img src=b.png>", "<p a=\"bx> <img src=z></p>",
    "</", "</a", "</a\n", "</>x", "</ >x", "</3>x", "</a b='>'>x", "</a\xa0>x",
    "<!", "<!x", "<!x>y", "<!>y", "<!-->y", "<!--->y", "<!-- a -- >b",
    "<!doctype", "<!DOCTYPE html", "<!doctype>x", "<!DOCTYPEhtml>x",
    "<?", "<?x", "<?x>y", "<?xml?>z",
    "<![CDATA", "<![CDATA[", "<![if", "<![if x", "<![endif]", "<![ ", "<![1]]>",
    "<html><body><![ bad]]><img src=a.png><p>x</p></body></html>",
    "<p>a</p><![bogus[x]]><p>b</p>",
    "<title>t</title><!--x<p>y",
    "<style>a</style ><script>b<![CDATA[</script>",
]


def test_fastscan_adversarial_equivalence():
    for src in ADVERSARIAL:
        _assert_equivalent(src)


@pytest.fixture
def exact_path_calls(monkeypatch):
    """Tags that left the one-match start/end-tag fast path: the exact
    html.parser paths are wrapped to record each call, then delegate."""
    calls = []

    def counted(fn):
        def wrapper(s, j, *rest):
            calls.append(s[j : j + 40])
            return fn(s, j, *rest)

        return wrapper

    monkeypatch.setattr(dom, "_parse_starttag", counted(dom._parse_starttag))
    monkeypatch.setattr(dom, "_parse_endtag", counted(dom._parse_endtag))
    return calls


@pytest.mark.requires_reference
def test_fastscan_golden_corpus_equivalence(exact_path_calls):
    """Every golden source AND expected fragment builds the identical
    tree, and every tag in them takes the one-match fast path (238/238
    files since round 4: quote-adjacent separators, quote-bearing and
    '='-led attr names, the (?!\\s*=) guard)."""
    files = sorted(glob.glob("/root/reference/testdata/test-pages/*/*.html"))
    assert files, "golden corpus not found"
    for f in files:
        _assert_equivalent(open(f, encoding="utf-8").read())
    assert exact_path_calls == [], exact_path_calls[:10]


def test_fastscan_covers_synth_and_serializer_output(exact_path_calls):
    """Bench pages and serializer round-trip output stay on the one-match
    start/end-tag path the throughput number depends on."""
    from go_readability_spark.spark.corpus import synth_html

    page = synth_html(7, "Body text & more < less.", "en", "src")
    doc = dom.parse_html(page)
    body = doc.get_elements_by_tag_name("body")[0]
    reparsed = dom.parse_html(body.get_inner_html())
    assert reparsed.get_inner_html() == body.get_inner_html()
    assert exact_path_calls == []
    # the wrappers do see the exact paths: a tag outside the fast subset
    dom.parse_html("<a b = = c>x</a b>")
    assert len(exact_path_calls) == 2


@settings(max_examples=400, deadline=None)
@given(
    st.lists(
        st.sampled_from(
            [
                "<p>",
                "</p>",
                '<div class="x">',
                "</div>",
                "text ",
                "&amp;",
                "<",
                ">",
                '"',
                "'",
                "<!-- c -->",
                "<br/>",
                "<title>t</title>",
                "<b",
                "=",
                '<a href="u?a=1&b=2">',
                "</a>",
                "<style>s</style>",
                " x=y",
                "/",
                "!",
                "<script>a<b</script>",
                "&#65;",
                "\n",
                "<em>",
                "</em>",
                "<IMG SRC=Z>",
                "\xa0",
                "\x0b",
                "/>",
                "<meta charset=utf-8/>",
                "<a b=c/",
                "d=e",
                "<div\xa0",
                "=utf-8/",
                "]",
                "]]>",
                "<![CDATA[",
                "<![if x]>",
                "<![",
                "]>",
                "[",
                'b="1"c="2"',
                '"c="2"',
                'a".="b"',
                '."=""',
                '="x"',
                "= ",
                "==",
                "=a=b ",
                '="',
                '<a ="v">',
                '"=" ',
            ]
        ),
        min_size=0,
        max_size=25,
    )
)
def test_fastscan_fragment_soup(parts):
    _assert_equivalent("".join(parts))
