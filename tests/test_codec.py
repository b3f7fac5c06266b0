"""Span-codec tests: byte-exact round trip + normalization invariants."""

import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from go_readability_spark.codec.spans import (
    Span,
    dom_to_spans,
    html_fragment_to_normalized_spans,
    html_to_spans,
    spans_to_html,
)
from go_readability_spark.kernel.dom import parse_html
from go_readability_spark.kernel.golden import FIXTURES_DIR
from go_readability_spark.kernel.readability import parse_document


@pytest.mark.requires_reference
def test_input_codec_roundtrip_fixture(golden_name):
    """Reassembling spans in offset order reproduces source byte-for-byte."""
    with open(os.path.join(FIXTURES_DIR, golden_name, "source.html"), encoding="utf-8") as f:
        src = f.read()
    spans = html_to_spans(src)
    assert spans_to_html(spans) == src
    # offsets are dense and ordered
    assert [s.offset for s in spans] == list(range(len(spans)))


def test_media_spans_extracted():
    html = '<div><p>a</p><img src="http://x/y.png" alt="z"/><video src="v.mp4"></video></div>'
    spans = html_to_spans(html)
    kinds = [s.kind for s in spans]
    assert kinds == ["markup", "img", "video", "markup"]
    assert spans[1].media_ref == "http://x/y.png"
    assert spans[2].media_ref == "v.mp4"
    assert spans_to_html(spans) == html


def _rows_to_html(rows) -> str:
    ordered = sorted(rows, key=lambda r: r["offset"])
    return "".join(r["text"] or "" for r in ordered)


def test_rows_to_html_handles_shuffled_offsets():
    html = "<p>one</p><img src='s.png'/><p>two</p>"
    rows = [s.as_row() for s in html_to_spans(html)]
    rows.reverse()
    assert _rows_to_html(rows) == html


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="<>&"),
            max_size=30,
        ),
        max_size=8,
    )
)
def test_input_codec_roundtrip_random_text(chunks):
    html = "<img src='a.png'/>".join(chunks)
    assert spans_to_html(html_to_spans(html)) == html


def test_output_codec_normalization():
    spans = html_fragment_to_normalized_spans(
        '<div class="b a">  hello\n  <b>world </b> <img src="i.png"/></div>'
    )
    tuples = [(s.kind, s.text, s.media_ref) for s in spans]
    assert tuples == [
        ("markup", '<div class="b a">', ""),
        ("text", "hello", ""),
        ("markup", "<b>", ""),
        ("text", "world", ""),
        ("markup", "</b>", ""),
        ("img", '<img src="i.png">', "i.png"),
        ("markup", "</div>", ""),
    ]


def test_output_codec_attr_order_insensitive():
    a = html_fragment_to_normalized_spans('<p id="x" class="y">t</p>')
    b = html_fragment_to_normalized_spans('<p class="y" id="x">t</p>')
    assert [s.as_tuple() for s in a] == [s.as_tuple() for s in b]


def test_output_codec_skips_empty_text():
    spans = html_fragment_to_normalized_spans("<div>\n   \n<p>x</p>  </div>")
    assert [s.text for s in spans] == ["<div>", "<p>", "x", "</p>", "</div>"]


_FILL = "The quick brown fox jumps over the lazy dog, again and again. " * 8


@pytest.mark.parametrize(
    "inner",
    [
        pytest.param(
            '<div><p>a &amp; b</p><img src="i.png"/><ul><li>x</li></ul></div>', id="plain"
        ),
        pytest.param('<p>left <span class="share">Share this</span> right</p>', id="share-removed"),
        pytest.param("<p>left <form>x</form> right</p>", id="form-removed"),
        pytest.param("<p>a<![CDATA[ b ]]>c</p>", id="cdata-splits-run"),
        pytest.param("<p>a<!doctype html>b</p>", id="mid-body-doctype"),
        # the CDATA text serializes as &amp;#65;, which the reparse decodes to A
        pytest.param("<p>x <b><![CDATA[&#65;]]></b></p>", id="double-decode"),
        pytest.param('<p><img src="x.png"><!doctype html></img> tail</p>', id="doctype-only-child"),
    ],
)
def test_serialize_reparse_stability(inner):
    """The output spans of the live article equal those of its serialized
    form reparsed: each input pins one normalization the reparse applies
    (text runs merged across removed nodes, CDATA and doctypes; the
    reparse's double decode; an element whose only child serializes to
    nothing is childless)."""
    page = f"<html><body><article><p>{_FILL}</p>{inner}<p>{_FILL}</p></article></body></html>"
    result, article, status = parse_document(page, "http://fakehost/test/page.html")
    assert status == "ok"
    walk = [s.as_tuple() for s in dom_to_spans(article)]
    reparsed = html_fragment_to_normalized_spans(result.html_content)
    assert walk == [s.as_tuple() for s in reparsed]


def test_media_tag_with_quoted_gt_and_comments():
    """'>' inside a quoted attribute must not split the media tag, and a
    commented-out tag is markup (the DOM discards comments), never a
    phantom media span; byte round-trip holds throughout."""
    from go_readability_spark.codec.spans import html_to_spans, spans_to_html

    cases = {
        '<img alt="a>b" src="x.png">': [("img", "x.png")],
        '<!-- <img src=c> --><p>x</p><img src="d">': [("img", "d")],
        "<!--unterminated <img src=e>": [],
        "<iframe src=\"f\" data-x=\"1>2\"></iframe>": [("iframe", "f")],
        "<video src='v.mp4'>ok</video>": [("video", "v.mp4")],
    }
    for html, want in cases.items():
        spans = html_to_spans(html)
        assert spans_to_html(spans) == html
        assert [(s.kind, s.media_ref) for s in spans if s.kind != "markup"] == want


def _dom_media_seq(html):
    """Media-element sequence at the PARSER-EVENT level: every media
    start tag the builder materializes, in order, with the src value the
    node stores (last-write-wins, entity-decoded) — i.e. what the tree
    holds BEFORE the reference's root-level cleanup (domparser.go:
    1142-1153), which removes root-level siblings of <html> and with
    them whole media-bearing subtrees (a bare void element swallows
    everything after it — domparser_test.go:357 quirk — so '<img ...>
    <!DOCTYPE html><html>…' legitimately parses to an EMPTY document in
    BOTH engines).  The input codec mirrors TOKENIZATION, so that is the
    level the differential must compare at; tree-level cleanup is
    document semantics the kernel applies later, identically to the
    reference (2KB golden-slice fuzz found the old tree-walk comparison
    flagging exactly those cleanup cases as false failures)."""
    from go_readability_spark.codec.spans import MEDIA_TAGS
    from go_readability_spark.kernel import dom

    events = []

    class _Rec(dom._DOMBuilder):
        def _rec(self, node):
            if node.local_name in MEDIA_TAGS:
                events.append((node.local_name, node.get_attribute("src")))

        def handle_starttag(self, tag, attrs):
            super().handle_starttag(tag, attrs)
            self._rec(self.stack[-1])

        def handle_startendtag(self, tag, attrs):
            super().handle_startendtag(tag, attrs)
            self._rec(self.stack[-1].child_nodes[-1])

    doc = dom.new_document("")
    builder = _Rec(doc)
    try:
        builder.feed(html)
        builder.finish()  # close()-recovery can emit further events
    except AssertionError:
        pass  # stock-parser parse error: the events before it are the stream
    return events


def _assert_media_subseq(html):
    """Differential invariant vs the DOM builder: the codec's media spans
    must EQUAL the parser's media start-tag event sequence — same tags,
    same stored src values, same order, up to where the stock parser
    raises.  (r4-late upgrade from the old
    subsequence check: the walk now mirrors check_for_whole_start_tag /
    parse_starttag / close()-recovery via html.parser's own regexes, so
    it neither fabricates media refs on constructs the parser rejects
    NOR declassifies tags the parser emits after malformed-construct
    recovery.)"""
    from go_readability_spark.codec.spans import html_to_spans, spans_to_html

    spans = html_to_spans(html)
    assert spans_to_html(spans) == html  # byte preservation always
    dom = _dom_media_seq(html)
    got = [(s.kind, s.media_ref) for s in spans if s.kind != "markup"]
    assert got == dom, (
        f"media spans {got!r} != DOM sequence {dom!r} for {html[:120]!r}"
    )


# nameless and unknown-keyword marked sections: stock feed() raises
_RAISING_MARKED_SECTIONS = (
    "<html><body><![ bad]]><img src=a.png><p>x</p></body></html>",
    "<html><body><img src=pre.png><![bogus[x]]><img src=a.png></body></html>",
)


def test_no_fabricated_media_refs_adversarial():
    cases = [
        '<p title="<img src=evil.png>">text</p>',
        "<![CDATA[ <img src=evil2.png> ]]><p>x</p>",
        '<?php echo "<img src=evil3.png>"; ?><p>x</p>',
        '<script>var s = "<img src=seen.png>";</script>',
        "<![if !IE]><img src=cond.png><![endif]><![CDATA[<img src=no.png>]]>",
        '</p onmouseover="<img src=e4.png>"><img src=real4.png>',
        "<!DOCTYPE html><img src=d.png>",
        '<p data-x="unterminated <img src=e5.png>',
        "<div a=\"1\"b='<img src=e6.png>'><img src=r6.png>",
        "<title><img src=t.png></title><img src=r8.png>",
        "<style>/* <!-- */</style><img src=r8.png>",
        # r4-late review class: constructs check_for_whole_start_tag /
        # parse_starttag REJECT (data fallback — no token, no fabrication)
        '<img altsrc/=a&amp;b=">',
        "<img =='\"x\"w=/>",
        # …and close()-recovery: tokenizing RESUMES after an unterminated
        # construct's next '>', so later media ARE emitted by the DOM
        '<!--"<video></video><img src=x>',
        '<p a="bx> <img src=z></p>',
        "<![CDATA[ x <p></p><img src=y>",
        "<!--unterminated <img src=e> trailing <img src=f>",
        # attr-storage semantics: valueless dup src stores '' (last-wins
        # incl. None), '=+' indicators collapse
        "<img src=a.png src>",
        "<img src==x>",
        "<img src src=b.png>",
        # namespaced media: local name is the element identity
        '<a0:img id="i" src="http://cdn.example/icon1.png" />',
        "<x:video src=v.mp4></x:video>",
        # marked sections the stock parser raises on end the token
        # stream: no media span at or after the construct
        *_RAISING_MARKED_SECTIONS,
    ]
    for html in cases:
        _assert_media_subseq(html)


def test_raising_marked_section_is_parse_error():
    """The kernel reports the inputs whose media spans stop at a raising
    marked section as parse_error."""
    from go_readability_spark.kernel.readability import parse_document

    for html in _RAISING_MARKED_SECTIONS:
        assert parse_document(html, "http://fakehost/test/page.html")[2] == "parse_error"


@pytest.mark.requires_reference
def test_no_fabricated_media_refs_golden_corpus():
    import glob

    for f in sorted(glob.glob("/root/reference/testdata/test-pages/*/source.html")):
        _assert_media_subseq(open(f, encoding="utf-8").read())


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.sampled_from(
            [
                "<img src=a.png>",
                '<img src="b>c.png">',
                "<p title=\"<img src=e.png>\">",
                "<!-- <img src=f.png> -->",
                "<![CDATA[<img src=g.png>]]>",
                "<style>",
                "</style>",
                "<title>",
                "</title>",
                "<script>",
                "</script>",
                "<?pi <img src=h.png> ?>",
                "</p onx=\"<img src=i.png>\">",
                "text ",
                "<",
                ">",
                '"',
                "'",
                "=",
                "<iframe src=j.html>",
                "</iframe>",
                "<video src='k.mp4'>",
                "<img alt=it's src=l.png>",
                "<img src=m.png src=n.png>",
                "<![if x]>",
                "<![endif]>",
                "<!doctype html>",
                "<div a=\"1\"b=\"2\">",
                "<img src=o.png src>",
                "<img src==p.png>",
                '<img altsrc/=a&amp;b=">',
                "<!--unterminated <img src=q.png>",
                '<p a="bx> ',
                "<a0:img src=ns.png>",
                "src=",
                ",",
            ]
        ),
        min_size=0,
        max_size=12,
    )
)
def test_no_fabricated_media_refs_fuzz(parts):
    _assert_media_subseq("".join(parts))


def test_media_ref_matches_dom_attr_parsing():
    """media_ref must be the src value the DOM parser would store:
    'src=' text inside an earlier quoted value is not the attribute,
    duplicate src keeps the LAST value (set_attribute last-value-wins),
    and entities decode like handle_starttag's attr decode.  Verified
    differentially against an actual kernel DOM parse."""
    from go_readability_spark.codec.spans import html_to_spans
    from go_readability_spark.kernel.dom import parse_html

    cases = [
        '<img alt="src=evil.png" src=real.png>',
        "<img src=a.png src=b.png>",        # last value wins
        '<img src="a&amp;b.png">',          # entity decode
        "<img SRC = spaced.png >",
        '<img srcset="x.png 2x" src=y.png>',
        "<img alt=it's src=q.png>",
        '<video poster="p.jpg" src="v.mp4"></video>',
    ]
    for html in cases:
        spans = [s for s in html_to_spans(html) if s.kind != "markup"]
        assert len(spans) == 1, html
        doc = parse_html(html)
        el = doc.get_elements_by_tag_name(spans[0].kind)[0]
        assert spans[0].media_ref == el.get_attribute("src"), html


def test_media_classification_tracks_rawtext_and_bare_quotes():
    """ADVICE r3 regressions: (1) '<!--' inside raw-text (CDATA) element
    content is plain text to the DOM parser — it must not swallow the rest
    of the document as a comment; (2) an unquoted attribute value may
    contain a quote char (html.parser bare values are [^>\\s]*); (3) media
    tags inside raw-text content are text to the DOM, never media spans;
    (4) a self-closing <style/> does not open raw-text mode.  Byte
    round-trip holds throughout."""
    from go_readability_spark.codec.spans import html_to_spans, spans_to_html

    cases = {
        # (1) the ADVICE repro verbatim
        "<style>/* <!-- */</style><img src=real.png>": [("img", "real.png")],
        # (2) the ADVICE repro verbatim
        "<p><img alt=it's src=x.png></p>": [("img", "x.png")],
        # (3) raw-text content hides media; the iframe TAG itself is media
        "<title><img src=fake.png></title><img src=r.png>": [("img", "r.png")],
        "<iframe src=a.html><img src=in.png></iframe><img src=out.png>": [
            ("iframe", "a.html"),
            ("img", "out.png"),
        ],
        # unterminated raw text swallows the tail like the parser does
        "<textarea><img src=never.png>": [],
        # (4) self-closing raw-text element: no cdata mode
        "<style/><img src=z.png>": [("img", "z.png")],
        # comment still wins when it opens first
        "<!-- <style> --><img src=w.png>": [("img", "w.png")],
    }
    for html, want in cases.items():
        spans = html_to_spans(html)
        assert spans_to_html(spans) == html, html
        got = [(s.kind, s.media_ref) for s in spans if s.kind != "markup"]
        assert got == want, (html, got)


def test_media_before_html_root_matches_event_level():
    """Tokenizer-vs-tree split pinned (2KB golden-slice fuzz class): a
    bare void element before <html> swallows the document and the
    root-level cleanup (domparser.go:1142-1153) then empties the TREE in
    both engines — but the tokenizer still emitted the media start tags,
    and the input codec (raw-stream semantics) must keep classifying
    them.  The event-level differential must agree; the resulting tree
    must be empty (reference parity)."""
    from go_readability_spark.codec.spans import html_to_spans
    from go_readability_spark.kernel.dom import parse_html

    html = (
        '﻿<img src="b>c.png"><!DOCTYPE html>\n<html>\n'
        "<head><title>t</title></head>\n<body><p>x</p></body></html>"
    )
    _assert_media_subseq(html)
    spans = [(s.kind, s.media_ref) for s in html_to_spans(html) if s.kind != "markup"]
    assert spans == [("img", "b>c.png")]
    assert parse_html(html).child_nodes == []  # root cleanup, both engines
