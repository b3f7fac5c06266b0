"""Pathological nesting envelope: crawl pages nest thousands of elements
deep, and the Go reference's growable goroutine stack handles that for
free — the kernel must not fail where the reference would extract.
Every per-depth walk in the kernel and codec is iterative; this pins it
(a regression to recursion fails here with RecursionError → parse_error
long before Python's default limit meets a real crawl page).
"""

from go_readability_spark.codec.spans import html_to_spans, spans_to_html
from go_readability_spark.kernel.dom import parse_html, release
from go_readability_spark.kernel.options import Options
from go_readability_spark.kernel.readability import parse_document
from go_readability_spark.kernel.readerable import is_probably_readerable

DEPTH = 3000


def _deep_doc(depth: int = DEPTH) -> str:
    return (
        "<html><body><article>"
        + "<div>" * depth
        + "<p>" + ("word " * 120) + "</p>"
        + "</div>" * depth
        + "<p>" + ("more text here. " * 60) + "</p></article></body></html>"
    )


def test_deep_nesting_extracts():
    res, art, status = parse_document(_deep_doc(), "http://x/", Options())
    assert status == "ok"
    assert res is not None and res.length > 500


def test_deep_nesting_retry_path():
    # short text forces the retry sieve (pristine clone + re-grab) on the
    # deep tree — the other depth-sensitive kernel path
    depth = DEPTH
    html = (
        "<html><body>" + "<div>" * depth + "<p>tiny</p>" + "</div>" * depth
        + "</body></html>"
    )
    _, _, status = parse_document(html, "http://x/", Options())
    assert status in ("ok", "no_article")  # anything but parse_error


def test_deep_nesting_readerable_and_codec():
    html = _deep_doc()
    assert is_probably_readerable(html) is True
    assert spans_to_html(html_to_spans(html)) == html


_TAIL = "<p>" + ("more text here. " * 60) + "</p>"
# shapes that drive each formerly-recursive predicate to full depth
_SHAPES = {
    "span": "<html><body><div>" + "<span>" * DEPTH + "word" + "</span>" * DEPTH
            + _TAIL + "</div></body></html>",
    "a": "<html><body><div>" + "<a>" * DEPTH + "x" + "</a>" * DEPTH
         + _TAIL + "</div></body></html>",
    "del": "<html><body><div>" + "<del>" * DEPTH + "x" + "</del>" * DEPTH
           + _TAIL + "</div></body></html>",
    "noscript": "<html><body><p>t</p><img src=a.png><noscript>"
                + "<div>" * DEPTH + "<img src='b.png'>" + "</div>" * DEPTH
                + "</noscript>" + _TAIL + "</body></html>",
    "classed": "<html><body><article>" + '<div class="page x">' * DEPTH
               + "<p>" + ("word " * 120) + "</p>" + "</div>" * DEPTH
               + _TAIL + "</article></body></html>",
}


def test_deep_nesting_predicate_shapes():
    """Shapes that drive each formerly-recursive predicate to full depth:
    phrasing chains (_has_child_block_element / _is_phrasing_content via
    div->p conversion), A/DEL chains (_is_phrasing_content's recursive
    arm), a single-child chain inside noscript (_is_single_image), and a
    classed chain through postProcess (_clean_classes)."""
    for tag, html in _SHAPES.items():
        _, _, status = parse_document(
            html, "http://x/", Options(classes_to_preserve=("page",))
        )
        assert status == "ok", tag


def test_release_at_depth():
    """dom.release unlinks a depth-3000 tree of every shape above without
    recursing (parse_document releases each document it parses, so the
    extraction tests above run it too)."""
    for tag, html in {"article": _deep_doc(), **_SHAPES}.items():
        doc = parse_html(html, "http://x/")
        nodes, todo = [], [doc]
        while todo:
            n = todo.pop()
            nodes.append(n)
            todo.extend(n.child_nodes)
        assert len(nodes) > DEPTH
        release(doc)
        assert all(n.parent_node is None and not n.child_nodes for n in nodes), tag
