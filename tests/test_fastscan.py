"""Fast-path tokenizer equivalence (kernel/dom.py _fast_scan).

The fast scanner must produce the EXACT event stream html.parser's feed()
path would for every document it accepts — anything else must raise
_Abort so parse_html falls back.  These tests compare full deep tree
equality (tags, attributes, text, structure, captured doc fields)
between the two paths over the golden corpus, an adversarial quirk set,
and randomized fragment soup.
"""

from __future__ import annotations

import glob

import pytest

from hypothesis import given, settings, strategies as st

from go_readability_spark.kernel import dom


def _both(src: str):
    d1 = dom.new_document("")
    b1 = dom._DOMBuilder(d1)
    aborted = False
    try:
        dom._fast_scan(src, b1)
    except dom._Abort:
        aborted = True
    b1.finish()
    d2 = dom.new_document("")
    b2 = dom._DOMBuilder(d2)
    feed_raised = False
    try:
        b2.feed(src)
        b2.finish()
    except AssertionError:
        # the STOCK parser raises on some malformed marked sections
        # (<![ with no name token); parse_document maps it to
        # 'parse_error'.  The fast path must abort there so the fallback
        # raises identically.
        feed_raised = True
    return d1, d2, aborted, feed_raised


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


def _assert_equivalent(src: str) -> bool:
    """True if the fast path handled it; always asserts equivalence."""
    d1, d2, aborted, feed_raised = _both(src)
    if feed_raised:
        assert aborted, f"fast path accepted input the stock path raises on: {src[:120]!r}"
        return False
    if aborted:
        return False  # fallback IS the feed path: equivalent by construction
    assert _deep_eq(d1, d2), f"fast/feed divergence on {src[:120]!r}"
    return True


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
    # into the NAME — the fast path must match or abort)
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
    # (?<=['"\s/]) start anchor — the top real-corpus abort class,
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
    # nameless ="..." after a quoted value (clean-links): abort+fallback
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
    # '='-led attr names (r4: the last real-page abort class, clean-links)
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
    # guard class: an '=' the fast value alternation can't consume must
    # abort (feed() binds it to the PREVIOUS name via '=+'/bare-'=' values)
    "<a b = = c>x",
    "<a b = >x",
    "<a == >x",
    "<a b==c>x",
    "<a =`=`>x",
]


def test_fastscan_adversarial_equivalence():
    for src in ADVERSARIAL:
        _assert_equivalent(src)


@pytest.mark.requires_reference
def test_fastscan_golden_corpus_equivalence():
    """Every golden source AND expected fragment: fast path (when taken)
    builds the identical tree; abort rate stays a minority."""
    files = sorted(glob.glob("/root/reference/testdata/test-pages/*/*.html"))
    assert files, "golden corpus not found"
    fast = 0
    for f in files:
        src = open(f, encoding="utf-8").read()
        if _assert_equivalent(src):
            fast += 1
    # r4 (late): '='-led attr names closed the last abort class — the
    # full corpus is fast-path now (238/238).  Any regression means a
    # fast-path class (quote-adjacent separators, quote-bearing or
    # '='-led names, the (?!\s*=) guard) broke
    assert fast == len(files), (fast, len(files))


def test_fastscan_covers_synth_and_serializer_output():
    """Bench pages and serializer round-trip output are always in the
    fast subset — the paths the throughput number depends on."""
    from go_readability_spark.spark.corpus import synth_html

    page = synth_html(7, "Body text & more < less.", "en", "src")
    before = dict(dom.PARSE_STATS)
    doc = dom.parse_html(page)
    assert dom.PARSE_STATS["fast"] == before["fast"] + 1
    body = doc.get_elements_by_tag_name("body")[0]
    reparsed = dom.parse_html(body.get_inner_html())
    assert dom.PARSE_STATS["fast"] == before["fast"] + 2
    assert dom.PARSE_STATS["fallback"] == before["fallback"]
    assert reparsed is not None


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
