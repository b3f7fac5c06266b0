"""DOM-layer unit tests, mirroring the reference's domparser_test.go."""

import pytest

from go_readability_spark.kernel import dom
from go_readability_spark.kernel.dom import (
    ELEMENT_NODE,
    decode_html,
    new_element,
    parse_html,
)

BASE_TEST_CASE = (
    '<html><body><p>Some text and <a class="someclass" href="#">a link</a></p>'
    '<div id="foo">With a <script>With &lt; fancy " characters in it because'
    "</script> that is fun.<span>And another node to make it harder</span></div>"
    '<form><input type="text"/><input type="number"/>Here\\\'s a form</form></body></html>'
)


def test_decode_html():
    # domparser_test.go:15-52
    assert decode_html("&#xa7;") == "§"
    assert decode_html("&#167;") == "§"
    assert decode_html("&#x2766;") == "❦"
    assert decode_html("&#10086;") == "❦"
    assert decode_html('With &lt; fancy " characters in it because') == (
        'With < fancy " characters in it because'
    )
    # full-table entities stay literal (subset decode only)
    assert decode_html("a&nbsp;b") == "a&nbsp;b"


def test_basic_hierarchy_and_inner_html():
    # domparser_test.go:56-74
    doc = parse_html(BASE_TEST_CASE, "http://fakehost/")
    assert len(doc.child_nodes) == 1
    assert len(doc.get_elements_by_tag_name("*")) == 10

    foo = doc.get_element_by_id("foo")
    assert foo.parent_node.local_name == "body"
    assert foo.parent_node is doc.body
    assert doc.body.parent_node is doc.document_element
    assert len(doc.body.child_nodes) == 3

    p = doc.get_elements_by_tag_name("p")[0]
    assert p.get_inner_html() == 'Some text and <a class="someclass" href="#">a link</a>'
    script = doc.get_elements_by_tag_name("script")[0]
    assert script.get_inner_html() == 'With &lt; fancy " characters in it because'
    assert script.get_text_content() == 'With < fancy " characters in it because'


def test_uri_information():
    doc = parse_html(BASE_TEST_CASE, "http://fakehost/")
    assert doc.document_uri == "http://fakehost/"
    assert doc.get_base_uri() == "http://fakehost/"


def test_sibling_and_child_properties():
    # domparser_test.go:90-104
    doc = parse_html(BASE_TEST_CASE, "http://fakehost/")
    foo = doc.get_element_by_id("foo")
    assert foo.previous_sibling.next_sibling is foo
    assert foo.next_sibling.previous_sibling is foo
    assert foo.next_sibling is foo.next_element_sibling
    assert foo.previous_sibling is foo.previous_element_sibling
    assert doc.body.last_child() is foo.next_sibling
    assert doc.body.first_child() is foo.previous_sibling


def test_remove_and_append_child():
    # domparser_test.go:106-149
    doc = parse_html(BASE_TEST_CASE, "http://fakehost/")
    foo = doc.get_element_by_id("foo")
    before_foo = foo.previous_sibling
    after_foo = foo.next_sibling

    removed = foo.parent_node.remove_child(foo)
    assert removed is foo
    assert foo.parent_node is None
    assert foo.previous_sibling is None and foo.next_sibling is None
    assert foo.previous_element_sibling is None and foo.next_element_sibling is None
    assert before_foo.next_sibling is after_foo
    assert after_foo.previous_sibling is before_foo
    assert before_foo.next_element_sibling is after_foo
    assert after_foo.previous_element_sibling is before_foo
    assert len(doc.body.child_nodes) == 2

    doc.body.append_child(foo)
    assert len(doc.body.child_nodes) == 3
    assert after_foo.next_sibling is foo
    assert foo.previous_sibling is after_foo
    assert after_foo.next_element_sibling is foo
    assert foo.previous_element_sibling is after_foo

    doc.body.append_child(after_foo)
    assert foo.previous_sibling is before_foo
    assert foo.next_sibling is after_foo
    assert foo.previous_element_sibling is before_foo
    assert foo.next_element_sibling is after_foo


def test_attributes():
    doc = parse_html(BASE_TEST_CASE, "http://fakehost/")
    link = doc.get_elements_by_tag_name("a")[0]
    assert link.get_attribute("href") == "#"
    assert link.class_name == link.get_attribute("class")
    foo = doc.get_element_by_id("foo")
    assert foo.get_attribute("id") == foo.id


def test_replace_child():
    # domparser_test.go:161-262 (condensed sweep over every child position)
    doc = parse_html(BASE_TEST_CASE, "http://fakehost/")
    parent = doc.get_elements_by_tag_name("div")[0]
    p = new_element("p")
    p.set_attribute("id", "my-replaced-kid")
    child_count = len(parent.child_nodes)
    child_el_count = len(parent.children)

    for i in range(len(parent.child_nodes)):
        replaced = parent.child_nodes[i]
        was_element = replaced.node_type == ELEMENT_NODE
        old_next = replaced.next_sibling
        old_next_el = replaced.next_element_sibling
        old_prev = replaced.previous_sibling
        old_prev_el = replaced.previous_element_sibling

        parent.replace_child(p, replaced)

        assert p.next_sibling is old_next
        assert p.previous_sibling is old_prev
        assert p.parent_node is parent
        assert replaced.parent_node is None
        assert replaced.next_sibling is None and replaced.previous_sibling is None
        if was_element:
            assert replaced.next_element_sibling is None
            assert replaced.previous_element_sibling is None
        if old_next is not None:
            assert old_next.previous_sibling is p
        if old_prev is not None:
            assert old_prev.next_sibling is p
        assert parent.child_nodes[i] is p

        kid_idx = next(j for j, n in enumerate(parent.children) if n is p)
        if kid_idx > 0:
            assert parent.children[kid_idx - 1] is p.previous_element_sibling
            assert p.previous_element_sibling.next_element_sibling is p
        else:
            assert p.previous_element_sibling is None
        if kid_idx < len(parent.children) - 1:
            assert parent.children[kid_idx + 1] is p.next_element_sibling
            assert p.next_element_sibling.previous_element_sibling is p
        else:
            assert p.next_element_sibling is None
        if was_element:
            assert old_next_el is p.next_element_sibling
            assert old_prev_el is p.previous_element_sibling
        assert len(parent.child_nodes) == child_count
        assert len(parent.children) == (child_el_count if was_element else child_el_count + 1)

        parent.replace_child(replaced, p)
        assert replaced.next_sibling is old_next
        assert replaced.next_element_sibling is old_next_el
        assert replaced.previous_sibling is old_prev
        assert replaced.previous_element_sibling is old_prev_el


def test_html_escaping_roundtrip():
    # domparser_test.go:265-294
    base = (
        "<p>Hello, everyone &amp; all their friends, &lt;this&gt; is a "
        "&quot; test with &apos; quotes.</p>"
    )
    doc = parse_html(base, "")
    p = doc.get_elements_by_tag_name("p")[0]
    txt = p.first_child()

    assert "<p>" + p.get_inner_html() + "</p>" == base
    assert "<p>" + txt.get_inner_html() + "</p>" == base
    decoded = "Hello, everyone & all their friends, <this> is a \" test with ' quotes."
    assert p.get_text_content() == decoded
    assert txt.get_text_content() == decoded

    txt.set_text_content(txt.get_text_content() + " ")
    txt.set_text_content(txt.get_text_content().strip())
    expected = base.replace("&quot;", '"').replace("&apos;", "'")
    assert "<p>" + txt.get_inner_html() + "</p>" == expected
    assert "<p>" + p.get_inner_html() + "</p>" == expected


def test_script_parsing():
    # domparser_test.go:296-342
    doc = parse_html('<script><?Silly test <img src="test"></script>', "")
    s = doc.first_child()
    assert s.tag_name == "SCRIPT"
    assert s.get_text_content() == ""
    assert len(s.children) == 0 and len(s.child_nodes) == 0

    doc = parse_html(
        '<script><!--Silly test > <script src="foo.js"></script>--></script>', ""
    )
    s = doc.first_child()
    assert s.tag_name == "SCRIPT"
    assert s.get_text_content() == ""
    assert len(s.children) == 0 and len(s.child_nodes) == 0

    doc = parse_html("<script>&lt;div>Hello, I'm not really in a &lt;/div></script>", "")
    s = doc.first_child()
    assert s.get_text_content() == "<div>Hello, I'm not really in a </div>"
    assert len(s.children) == 0 and len(s.child_nodes) == 1

    doc = parse_html('<script>&lt;script src="foo.js">&lt;/script></script>', "")
    s = doc.first_child()
    assert s.get_text_content() == '<script src="foo.js"></script>'
    assert len(s.children) == 0 and len(s.child_nodes) == 1

    doc = parse_html("<script>var x = '&lt;script>Hi&lt;' + '/script>';</script>", "")
    s = doc.first_child()
    assert s.get_text_content() == "var x = '<script>Hi<' + '/script>';"
    assert len(s.children) == 0 and len(s.child_nodes) == 1


def test_tag_name_local_name():
    # domparser_test.go:344-355
    doc = parse_html("<DIV><svG><clippath/></svG></DIV>", "")
    assert doc.first_child().tag_name == "DIV"
    assert doc.first_child().local_name == "div"
    svg = doc.first_child().first_child()
    assert svg.tag_name == "SVG" and svg.local_name == "svg"
    cp = svg.first_child()
    assert cp.tag_name == "CLIPPATH" and cp.local_name == "clippath"


def test_void_recovery_with_close_tags():
    # domparser_test.go:357-367: bare void start tags open a scope.
    doc = parse_html("<div><input><p>I'm in an input</p></input></div>", "")
    div = doc.first_child()
    assert div.local_name == "div"
    assert len(div.child_nodes) == 1
    inp = div.first_child()
    assert inp.local_name == "input"
    assert len(inp.child_nodes) == 1
    assert inp.first_child().local_name == "p"


def test_base_uri_parsing():
    # domparser_test.go:369-384
    def check(base, expected):
        html = "<html><head><base href='" + base + "'></base></head><body/></html>"
        doc = parse_html(html, "http://fakehost/some/dir/")
        assert doc.get_base_uri() == expected

    check("relative/path", "http://fakehost/some/dir/relative/path")
    check("/path", "http://fakehost/path")
    check("http://absolute/", "http://absolute/")
    check("//absolute/path", "http://absolute/path")


def test_namespace_workarounds():
    # domparser_test.go:386-402
    doc = parse_html(
        "<a0:html><a0:body><a0:DIV><a0:svG><a0:clippath/></a0:svG></a0:DIV>"
        "</a0:body></a0:html>",
        "",
    )
    div = doc.get_elements_by_tag_name("div")[0]
    assert div.tag_name == "DIV" and div.local_name == "div"
    assert div.first_child().tag_name == "SVG"
    assert div.first_child().first_child().tag_name == "CLIPPATH"
    assert doc.first_child() is doc.document_element
    assert doc.document_element.first_child() is doc.body


def test_serializer_void_and_attr_quirks():
    doc = parse_html('<div><img src="x.png"/><br/>a &amp; b</div>', "")
    assert doc.first_child().get_inner_html() == '<img src="x.png"/><br/>a &amp; b'
    # attribute values are fully escaped; quotes always double
    el = new_element("span")
    el.set_attribute("title", 'say "hi" & <go>')
    parent = new_element("div")
    parent.append_child(el)
    assert parent.get_inner_html() == (
        '<span title="say &quot;hi&quot; &amp; &lt;go&gt;"></span>'
    )


def test_set_inner_html_reparents():
    doc = parse_html("<div>old</div>", "")
    div = doc.first_child()
    div.set_inner_html("<p>new</p><span>nodes</span>")
    assert [c.local_name for c in div.children] == ["p", "span"]
    assert all(c.parent_node is div for c in div.child_nodes)
    assert div.get_inner_html() == "<p>new</p><span>nodes</span>"


def test_doctype_and_root_cleanup():
    doc = parse_html("<!DOCTYPE html><html><body><p>x</p></body></html>", "")
    assert len(doc.child_nodes) == 1
    assert doc.first_child() is doc.document_element


def test_first_title_wins():
    doc = parse_html(
        "<html><head><title>First</title></head><body><svg><title>Second"
        "</title></svg></body></html>",
        "",
    )
    assert doc.title == "First"


def test_text_starting_with_lt_dropped():
    doc = parse_html("<p><3 hello</p><p>a <3 b</p>", "")
    ps = doc.get_elements_by_tag_name("p")
    assert ps[0].get_text_content() == ""
    assert ps[1].get_text_content() == "a <3 b"


def test_inner_html_empty_localname_element_serializes_children():
    """An element whose local name is empty (bare namespace prefix like
    <a:>) serializes as its CHILDREN with no surrounding tag
    (domparser.go:925-928) — not as an empty text node dropping the
    subtree."""
    from go_readability_spark.kernel.dom import parse_html

    d = parse_html("<div><a:>hello <b>world</b></a:></div>")
    div = d.get_elements_by_tag_name("div")[0]
    assert div.get_inner_html() == "hello <b>world</b>"


# -- lean nodes: the shared empty node list and copy-on-write -------------

_LINKS = ("parent_node", "previous_sibling", "next_sibling", "previous_element_sibling", "next_element_sibling")


def _link_set(nodes: dict) -> dict:
    """Every link and child list of every named node, by name."""
    name = {id(n): k for k, n in nodes.items()}

    def ref(n):
        return None if n is None else name[id(n)]

    return {
        k: tuple(ref(getattr(n, a)) for a in _LINKS)
        + (tuple(map(ref, n.child_nodes)), tuple(map(ref, n.children)))
        for k, n in nodes.items()
    }


def _append_under_leaf():
    p, t, b = new_element("p"), dom.new_text(), new_element("b")
    p.append_child(t)
    p.append_child(b)
    return {"p": p, "t": t, "b": b}, {
        "p": (None, None, None, None, None, ("t", "b"), ("b",)),
        "t": ("p", None, "b", None, None, (), ()),
        "b": ("p", "t", None, None, None, (), ()),
    }


def _replace_text_with_element():
    p, t1, t2, t3, em = new_element("p"), dom.new_text(), dom.new_text(), dom.new_text(), new_element("em")
    for t in (t1, t2, t3):
        p.append_child(t)
    p.replace_child(em, t2)
    return {"p": p, "t1": t1, "t2": t2, "t3": t3, "em": em}, {
        "p": (None, None, None, None, None, ("t1", "em", "t3"), ("em",)),
        "t1": ("p", None, "em", None, None, (), ()),
        "em": ("p", "t1", "t3", None, None, (), ()),
        "t3": ("p", "em", None, None, None, (), ()),
        "t2": (None, None, None, None, None, (), ()),
    }


def _set_attribute_on_bare_element():
    e = new_element("img")
    e.set_attribute("src", "a.png")
    e.set_attribute("alt", "x")
    assert e.attributes == [["src", "a.png"], ["alt", "x"]]
    assert new_element("img").attributes == ()
    return {"e": e}, {"e": (None, None, None, None, None, (), ())}


def _clone_leaves():
    t = dom.create_text_node("a & b")
    bare = new_element("br")
    attrs = new_element("img")
    attrs.set_attribute("src", "a.png")
    copies = [dom.clone_deep(n) for n in (t, bare, attrs)]
    assert copies[0].get_text_content() == "a & b"
    assert copies[1].attributes == () and copies[1].tag_name == "BR"
    assert copies[2].attributes == [["src", "a.png"]]
    assert copies[2].attributes is not attrs.attributes
    assert copies[2].attributes[0] is not attrs.attributes[0]
    return dict(zip(("t", "bare", "attrs"), copies)), {
        k: (None, None, None, None, None, (), ()) for k in ("t", "bare", "attrs")
    }


def _set_text_content_on_element():
    div, b, t = new_element("div"), new_element("b"), dom.new_text()
    div.append_child(b)
    div.append_child(t)
    div.set_text_content("fresh")
    (fresh,) = div.child_nodes
    assert fresh.get_text_content() == "fresh"
    # the replaced children lose their parent but keep their sibling links
    return {"div": div, "b": b, "t": t, "fresh": fresh}, {
        "div": (None, None, None, None, None, ("fresh",), ()),
        "fresh": ("div", None, None, None, None, (), ()),
        "b": (None, None, "t", None, None, (), ()),
        "t": (None, "b", None, None, None, (), ()),
    }


@pytest.mark.parametrize(
    "case",
    [_append_under_leaf, _replace_text_with_element, _set_attribute_on_bare_element,
     _clone_leaves, _set_text_content_on_element],
)
def test_mutators_copy_on_write(case):
    """Nodes start with the one shared empty tuple for child_nodes,
    children and attributes; each inserting mutator gives the node its own
    list, and the links come out as written."""
    nodes, want = case()
    assert _link_set(nodes) == want
    for n in nodes.values():
        for lst in (n.child_nodes, n.children, n.attributes):
            assert lst is dom._EMPTY or type(lst) is list
    assert dom._EMPTY == ()


def test_release_unlinks_a_tree():
    doc = parse_html(BASE_TEST_CASE, "http://x/")
    nodes, todo = [], [doc]
    while todo:
        n = todo.pop()
        nodes.append(n)
        todo.extend(n.child_nodes)
    dom.release(doc)
    assert doc.body is None and doc.head is None and doc.document_element is None
    assert len(nodes) > 10
    for n in nodes:
        assert all(getattr(n, a) is None for a in _LINKS)
        assert n.child_nodes is dom._EMPTY and n.children is dom._EMPTY


def test_tag_name_table_is_bounded(monkeypatch):
    """A worker parses page after page: the interned tag-name table stops at
    its bound, and names past the bound come out the same."""
    monkeypatch.setattr(dom, "_TAG_NAMES", {})
    n = 100_000
    doc = parse_html("".join(f"<ns:Tag{i}/>" for i in range(n)), "")
    assert len(dom._TAG_NAMES) == dom._TAG_NAMES_MAX
    assert [(e.local_name, e.tag_name) for e in doc.children] == [(f"tag{i}", f"TAG{i}") for i in range(n)]
    assert doc.get_inner_html() == "".join(f"<tag{i}></tag{i}>" for i in range(n))
    assert parse_html("<ns:Tag7/>", "").children[0].tag_name == "TAG7"
    assert len(dom._TAG_NAMES) == dom._TAG_NAMES_MAX


def _moved(adopt: bool) -> dict:
    """A body of mixed text and element children, moved under a new div
    by ``adopt_children_from`` or by one ``append_child`` per child."""
    body = new_element("body")
    kids = [dom.create_text_node("t1"), new_element("p"), dom.create_text_node("t2"), new_element("b"),
            new_element("i"), dom.create_text_node("t3")]
    for k in kids:
        body.append_child(k)
    assert body.get_text_content() == "t1t2t3"  # a clean text memo
    div = new_element("div")
    if adopt:
        div.adopt_children_from(body)
    else:
        while body.first_child() is not None:
            div.append_child(body.first_child())
    return {"body": body, "div": div, **{f"k{i}": k for i, k in enumerate(kids)}}


def test_adopt_children_from_equals_one_at_a_time_moves():
    """Moving a whole child list in one step leaves every sibling and
    element-sibling link as one append_child per child does, empties the
    source (the shared empty tuple, no alias of the moved lists) and
    drops its text memo."""
    adopted, appended = _moved(True), _moved(False)
    assert _link_set(adopted) == _link_set(appended)
    body, div = adopted["body"], adopted["div"]
    assert body.child_nodes is dom._EMPTY and body.children is dom._EMPTY
    assert body.get_text_content() == ""
    assert div.get_text_content() == "t1t2t3"
    assert [c.local_name for c in div.children] == ["p", "b", "i"]


def test_body_fallback_moves_children_in_one_step(monkeypatch):
    """A page with no scorable candidate falls back to wrapping the whole
    body: its 20k children move in one step, with no remove_child each
    (each one shifted the rest of the body's lists, O(n²) in all), and the
    parse stays well under a second per 20k paragraphs."""
    import time

    from go_readability_spark.kernel.options import Options
    from go_readability_spark.kernel.readability import parse_document

    calls = []
    remove_child = dom.Node.remove_child
    monkeypatch.setattr(dom.Node, "remove_child", lambda self, c: calls.append(c) or remove_child(self, c))
    n = 20_000
    t0 = time.perf_counter()
    res, article, status = parse_document("<body>" + "<p>a</p>" * n + "</body>", "http://x.ex/", Options())
    assert time.perf_counter() - t0 < 3.0
    assert status == "ok"
    assert len(article.get_elements_by_tag_name("p")) == n
    assert len(calls) < 10
