"""Minimal, JSDOMParser-style DOM for the extraction kernel.

This is a from-scratch Python re-derivation of the reference's lightweight
DOM layer (reference: domparser.go).  It deliberately reproduces that
parser's *quirks*, because the golden corpus outputs depend on them:

  * comments / processing instructions are discarded (domparser.go:1065-1066)
  * CDATA sections become plain text nodes (domparser.go:1079-1085)
  * text nodes cache their RAW source form (entities preserved) and decode
    only the XML entity subset + numeric char refs (domparser.go:44-100,629-656)
  * an end tag closes only the innermost open element; mismatched end tags
    are silently dropped (domparser.go:1124-1127) -- no HTML5 error recovery
  * bare (non-self-closed) start tags always open a scope, *including void
    elements* (domparser_test.go:357-367: ``<input><p>..</p></input>`` nests)
  * namespace prefixes are stripped from element names but NOT from end
    tags, so prefixed end tags never match (domparser.go:722-740)
  * only the first <title> wins; head/body/documentElement are captured when
    the element completes (domparser.go:1111-1119)
  * root-level children other than <html> are dropped when <html> exists
    (domparser.go:1142-1153)
  * script/noscript content is tokenized as markup, not raw text
    (domparser.go:1102-1104); style/title/textarea/iframe etc. stay raw text
  * text runs that start with '<' (and are not CDATA) are dropped
    (domparser.go:1079-1088)
  * the serializer escapes exactly ``< > &`` in text and ``< > & " '`` in
    attribute values, and self-closes empty void elements (domparser.go:891-936)

The tree is single-document, fully mutable, and never crosses a Spark row
boundary: one instance lives only inside one vectorized-UDF batch iteration.

``_scan`` is the engine's one HTML tokenizer: it reproduces html.parser
3.11's ``feed`` + ``close`` token stream exactly (see the tokenizer
section below), and both ``parse_html`` and the input span codec
(``codec.spans.html_to_spans``) consume it.
"""

from __future__ import annotations

import re
from html import unescape as _unescape_html
from html.parser import HTMLParser as _HTMLParser
from html.parser import attrfind_tolerant as _ATTRFIND
from html.parser import locatestarttagend_tolerant as _LOCATE_START
from html.parser import tagfind_tolerant as _TAGFIND
from urllib.parse import urljoin

from .regexps import ENTITY_REFERENCES, HTML_CHAR_CODES

ELEMENT_NODE = 1
TEXT_NODE = 3

# Subtree-text memo invalidation: every structural/text mutator marks the
# mutated node AND its whole ancestor chain dirty (never early-stopping —
# a clean ancestor may sit above a node whose own cache was never computed,
# so a hit on a dirty node proves nothing about the nodes above it).
# Untouched sibling subtrees keep their memos, which is what makes the
# scoring loop's repeated text reads cheap between removals.
CDATA_SECTION_NODE = 4
COMMENT_NODE = 8
DOCUMENT_NODE = 9
DOCUMENT_TYPE_NODE = 10

# Elements the *serializer* may self-close (domparser.go:295-310).
VOID_ELEMS = frozenset(
    (
        "area", "base", "br", "col", "command", "embed", "hr", "img",
        "input", "link", "meta", "param", "source", "wbr",
    )
)

_ENTITY_MAP = {"lt": "<", "gt": ">", "amp": "&", "quot": '"', "apos": "'"}


def decode_html(s: str) -> str:
    """Decode the XML entity subset + numeric char refs (domparser.go:74-100).

    Deliberately NOT the full HTML5 entity table: ``&nbsp;`` et al. stay
    literal, matching the reference.  Invalid/surrogate code points map to
    U+FFFD the way Go's ``rune`` conversion does.
    """
    if "&" not in s:
        return s
    s = ENTITY_REFERENCES.sub(lambda m: _ENTITY_MAP[m.group(1)], s)
    # Mirror the reference: collect submatches first, then replace every
    # occurrence of each matched literal globally, in match order.
    for m in list(HTML_CHAR_CODES.finditer(s)):
        hexpart, decpart = m.group(1), m.group(2)
        cp = int(hexpart, 16) if hexpart else int(decpart)
        ch = "�" if 0xD800 <= cp <= 0xDFFF else chr(cp)
        s = s.replace(m.group(0), ch)
    return s


def encode_text_content_html(text: str) -> str:
    """Escape ``& < >`` only (domparser.go:52-56,66-68)."""
    return text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def encode_html(text: str) -> str:
    """Escape ``& < > " '`` (domparser.go:58-64,70-72)."""
    return (
        text.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
        .replace("'", "&apos;")
    )


class Node:
    """One node: element, text, document or doctype (domparser.go:355-383)."""

    __slots__ = (
        "node_type",
        "local_name",
        "tag_name",
        "node_name",
        "_text_content",
        "_inner_html",
        "attributes",
        "parent_node",
        "next_sibling",
        "previous_sibling",
        "previous_element_sibling",
        "next_element_sibling",
        "child_nodes",
        "children",
        "document_uri",
        "_base_uri",
        "title",
        "head",
        "body",
        "document_element",
        "content_score",
        "data_table",
        "_tc_dirty",
        "_tc_cache",
        "_norm_text",
    )

    def __init__(self, node_type: int, node_name: str = "") -> None:
        self.node_type = node_type
        self.local_name = ""
        self.tag_name = ""
        self.node_name = node_name
        self._text_content: str | None = None
        self._inner_html: str | None = None
        self.attributes: list[list[str]] = []
        self.parent_node: Node | None = None
        self.next_sibling: Node | None = None
        self.previous_sibling: Node | None = None
        self.previous_element_sibling: Node | None = None
        self.next_element_sibling: Node | None = None
        self.child_nodes: list[Node] = []
        self.children: list[Node] = []
        self.document_uri = ""
        self._base_uri = ""
        self.title = ""
        self.head: Node | None = None
        self.body: Node | None = None
        self.document_element: Node | None = None
        # Algorithm annotations (domparser.go:385-391): None == uninitialized.
        self.content_score: float | None = None
        self.data_table: bool | None = None
        # Subtree-text memo, valid while _tc_dirty is False.
        self._tc_dirty: bool = True
        self._tc_cache: str = ""
        # Normalized-text memo (strip + whitespace collapse over the
        # subtree text), valid only while _tc_dirty is False AND non-None;
        # invalidated whenever _tc_cache is recomputed.
        self._norm_text: str | None = None

    def __repr__(self) -> str:  # debugging aid only
        if self.node_type == TEXT_NODE:
            return f"#text({self.get_text_content()[:40]!r})"
        return f"<{self.local_name or self.node_name} {self.attributes}>"

    # -- basic accessors ---------------------------------------------------

    def first_child(self) -> Node | None:
        return self.child_nodes[0] if self.child_nodes else None

    def last_child(self) -> Node | None:
        return self.child_nodes[-1] if self.child_nodes else None

    def first_element_child(self) -> Node | None:
        return self.children[0] if self.children else None

    # -- mutation (mirrors domparser.go:421-583) -----------------------------
    # Every mutator marks the mutated node's ancestor chain dirty (see the
    # module note above the Node class).

    def _mark_text_dirty(self) -> None:
        n: Node | None = self
        while n is not None:
            n._tc_dirty = True
            n = n.parent_node

    def append_child(self, child: Node) -> None:
        self._mark_text_dirty()
        if child.parent_node is not None:
            child.parent_node.remove_child(child)
        self._append_fast(child)

    def _append_fast(self, child: Node) -> None:
        """Link-set maintenance without cache invalidation — the tokenizer's
        append path: a tree under initial construction from fresh nodes has
        no clean memos anywhere, so there is nothing to invalidate."""

        last = self.last_child()
        if last is not None:
            last.next_sibling = child
        child.previous_sibling = last

        if child.node_type == ELEMENT_NODE:
            if self.children:
                child.previous_element_sibling = self.children[-1]
            self.children.append(child)
            if child.previous_element_sibling is not None:
                child.previous_element_sibling.next_element_sibling = child

        self.child_nodes.append(child)
        child.parent_node = self

    def remove_child(self, child: Node) -> Node:
        self._mark_text_dirty()
        idx = _index_of(child, self.child_nodes)
        if idx == -1:
            raise ValueError("remove_child: node not found")
        child.parent_node = None
        prev, nxt = child.previous_sibling, child.next_sibling
        if prev is not None:
            prev.next_sibling = nxt
        if nxt is not None:
            nxt.previous_sibling = prev

        if child.node_type == ELEMENT_NODE:
            eprev, enxt = child.previous_element_sibling, child.next_element_sibling
            if eprev is not None:
                eprev.next_element_sibling = enxt
            if enxt is not None:
                enxt.previous_element_sibling = eprev
            del self.children[_index_of(child, self.children)]

        child.previous_sibling = child.next_sibling = None
        child.previous_element_sibling = child.next_element_sibling = None
        del self.child_nodes[idx]
        return child

    def replace_child(self, new_node: Node, old_node: Node) -> Node:
        self._mark_text_dirty()
        child_nodes = self.child_nodes
        idx = _index_of(old_node, child_nodes)
        if idx == -1:
            raise ValueError("replace_child: node not found")
        if new_node.parent_node is not None:
            new_node.parent_node.remove_child(new_node)
        child_nodes[idx] = new_node

        new_node.next_sibling = old_node.next_sibling
        new_node.previous_sibling = old_node.previous_sibling
        if new_node.next_sibling is not None:
            new_node.next_sibling.previous_sibling = new_node
        if new_node.previous_sibling is not None:
            new_node.previous_sibling.next_sibling = new_node
        new_node.parent_node = self

        if new_node.node_type == ELEMENT_NODE:
            if old_node.node_type == ELEMENT_NODE:
                new_node.previous_element_sibling = old_node.previous_element_sibling
                new_node.next_element_sibling = old_node.next_element_sibling
                if new_node.previous_element_sibling is not None:
                    new_node.previous_element_sibling.next_element_sibling = new_node
                if new_node.next_element_sibling is not None:
                    new_node.next_element_sibling.previous_element_sibling = new_node
                self.children[_index_of(old_node, self.children)] = new_node
            else:
                new_node.previous_element_sibling = next(
                    (child_nodes[i] for i in range(idx - 1, -1, -1)
                     if child_nodes[i].node_type == ELEMENT_NODE),
                    None,
                )
                if new_node.previous_element_sibling is not None:
                    new_node.next_element_sibling = (
                        new_node.previous_element_sibling.next_element_sibling
                    )
                else:
                    new_node.next_element_sibling = next(
                        (child_nodes[i] for i in range(idx + 1, len(child_nodes))
                         if child_nodes[i].node_type == ELEMENT_NODE),
                        None,
                    )
                if new_node.previous_element_sibling is not None:
                    new_node.previous_element_sibling.next_element_sibling = new_node
                if new_node.next_element_sibling is not None:
                    new_node.next_element_sibling.previous_element_sibling = new_node
                if new_node.next_element_sibling is not None:
                    self.children.insert(
                        _index_of(new_node.next_element_sibling, self.children), new_node
                    )
                else:
                    self.children.append(new_node)
        elif old_node.node_type == ELEMENT_NODE:
            if old_node.previous_element_sibling is not None:
                old_node.previous_element_sibling.next_element_sibling = (
                    old_node.next_element_sibling
                )
            if old_node.next_element_sibling is not None:
                old_node.next_element_sibling.previous_element_sibling = (
                    old_node.previous_element_sibling
                )
            del self.children[_index_of(old_node, self.children)]

        old_node.parent_node = None
        old_node.previous_sibling = old_node.next_sibling = None
        if old_node.node_type == ELEMENT_NODE:
            old_node.previous_element_sibling = old_node.next_element_sibling = None
        return old_node

    # -- attributes (ordered, last-write-wins lookup; domparser.go:742-785) --

    def get_attribute(self, name: str) -> str:
        for attr in reversed(self.attributes):
            if attr[0] == name:
                return attr[1]
        return ""

    def set_attribute(self, name: str, value: str) -> None:
        for attr in self.attributes:
            if attr[0] == name:
                attr[1] = value
                return
        self.attributes.append([name, value])

    def remove_attribute(self, name: str) -> None:
        for i, attr in enumerate(self.attributes):
            if attr[0] == name:
                del self.attributes[i]
                return

    def has_attribute(self, name: str) -> bool:
        return any(a[0] == name for a in self.attributes)

    @property
    def class_name(self) -> str:
        return self.get_attribute("class")

    @property
    def id(self) -> str:
        return self.get_attribute("id")

    def get_style(self, css_name: str) -> str:
        """Naive style-attribute lookup (domparser.go:797-815)."""
        attr = self.get_attribute("style")
        if not attr:
            return ""
        for chunk in attr.split(";"):
            parts = chunk.split(":")
            if parts[0].strip() == css_name:
                return parts[1].strip() if len(parts) > 1 else ""
        return ""

    # -- queries -------------------------------------------------------------

    def get_elements_by_tag_name(self, tag: str) -> list[Node]:
        """Pre-order element scan (domparser.go:331-353)."""
        all_tags = tag == "*"
        tag_up = tag.upper()
        out: list[Node] = []
        stack = self.children[::-1]
        while stack:
            child = stack.pop()
            if all_tags or child.tag_name == tag_up:
                out.append(child)
            if child.children:
                stack += child.children[::-1]
        return out

    def get_elements_by_tag_names(self, tags: tuple[str, ...]) -> list[Node]:
        """Multi-tag query in ONE pre-order walk, preserving the reference's
        per-tag grouping (all of tags[0] in document order, then all of
        tags[1], ...) exactly as repeated get_elements_by_tag_name calls
        would return (readability.go:221-227)."""
        buckets: dict[str, list[Node]] = {}
        order: list[list[Node]] = []
        for t in tags:
            b = buckets.setdefault(t.upper(), [])
            order.append(b)
        stack = self.children[::-1]
        while stack:
            child = stack.pop()
            b = buckets.get(child.tag_name)
            if b is not None:
                b.append(child)
            if child.children:
                stack += child.children[::-1]
        out: list[Node] = []
        for b in order:
            out.extend(b)
        return out

    def count_tags(self, tags: tuple[str, ...]) -> dict[str, int]:
        """Descendant-element counts for several tags in ONE pre-order
        walk — order-free, so exactly what repeated
        ``len(get_elements_by_tag_name(t))`` calls would return
        (readability.go's cleanConditionally counts p/img/li/input with
        four separate scans; counting is walk-order-independent)."""
        counts = dict.fromkeys(tags, 0)
        stack = self.children[::-1]
        while stack:
            child = stack.pop()
            t = child.tag_name
            if t in counts:
                counts[t] += 1
            if child.children:
                stack += child.children[::-1]
        return counts

    def has_descendant_tag(self, tags: tuple[str, ...]) -> bool:
        """Early-exit existence probe for any of ``tags`` among
        descendants — equivalent to ``any(len(get_elements_by_tag_name(t))
        for t in tags)`` without materializing the node lists."""
        stack = self.children[::-1]
        while stack:
            child = stack.pop()
            if child.tag_name in tags:
                return True
            if child.children:
                stack += child.children[::-1]
        return False

    def get_element_by_id(self, id_: str) -> Node | None:
        if self.id == id_:
            return self
        stack = list(reversed(self.children))
        while stack:
            n = stack.pop()
            if n.id == id_:
                return n
            stack.extend(reversed(n.children))
        return None

    # -- text / html content (domparser.go:629-656,891-1005) -----------------

    def get_text_content(self) -> str:
        if self.node_type == TEXT_NODE:
            if self._text_content is None:
                self._text_content = decode_html(self._inner_html or "")
            return self._text_content
        if self.node_type == ELEMENT_NODE:
            # Memoized per subtree: the scoring loop (link/text density,
            # cleanConditionally) re-reads the same subtrees many times;
            # mutations dirty only the mutated ancestor chain, so sibling
            # subtrees keep their memos across the removal-heavy scan.
            if not self._tc_dirty:
                return self._tc_cache
            parts: list[str] = []
            append = parts.append
            stack = list(reversed(self.child_nodes))
            pop = stack.pop
            extend = stack.extend
            while stack:
                child = pop()
                if child.node_type == TEXT_NODE:
                    tc = child._text_content
                    if tc is None:
                        tc = child._text_content = decode_html(child._inner_html or "")
                    append(tc)
                elif child.child_nodes:
                    if not child._tc_dirty:
                        append(child._tc_cache)
                    else:
                        extend(reversed(child.child_nodes))
            text = "".join(parts)
            self._tc_cache = text
            self._tc_dirty = False
            self._norm_text = None  # derived memo follows the raw one
            return text
        return self._text_content or ""

    def subtree_text_is_blank(self) -> bool:
        """True iff ``get_text_content()`` would be empty or whitespace —
        decided WITHOUT building the concatenated string (early exit on
        the first visible character; a concatenation of blank pieces is
        blank, so piecewise checking is exactly equivalent).  The cleanup
        passes probe emptiness over freshly-mutated (memo-dirty) subtrees
        thousands of times per page; building the full text each time was
        ~8% of kernel wall."""
        if self.node_type == TEXT_NODE:
            tc = self._text_content
            if tc is None:
                tc = self._text_content = decode_html(self._inner_html or "")
            return not tc or tc.isspace()
        stack = list(self.child_nodes)
        while stack:
            c = stack.pop()
            if c.node_type == TEXT_NODE:
                tc = c._text_content
                if tc is None:
                    tc = c._text_content = decode_html(c._inner_html or "")
                if tc and not tc.isspace():
                    return False
            elif c.child_nodes:
                if not c._tc_dirty:
                    cc = c._tc_cache
                    if cc and not cc.isspace():
                        return False
                else:
                    stack.extend(c.child_nodes)
        return True

    def set_text_content(self, text: str) -> None:
        self._mark_text_dirty()
        if self.node_type == TEXT_NODE:
            self._text_content = text
            self._inner_html = None
        elif self.node_type == ELEMENT_NODE:
            for c in reversed(self.child_nodes):
                c.parent_node = None
            t = new_text()
            t._text_content = text
            t.parent_node = self
            self.child_nodes = [t]
            self.children = []
        else:
            self._text_content = text

    def get_inner_html(self) -> str:
        """Serialize children exactly like the reference (domparser.go:891-936)."""
        if self.node_type == TEXT_NODE:
            if self._inner_html is None:
                self._inner_html = encode_text_content_html(self._text_content or "")
            return self._inner_html
        out: list[str] = []
        # Work stack holds either ("node", n) to emit or ("close", name).
        stack: list[object] = list(reversed(self.child_nodes))
        while stack:
            item = stack.pop()
            if isinstance(item, str):
                out.append(item)
                continue
            child = item
            local = child.local_name
            if local:
                out.append("<" + local)
                for name, value in child.attributes:
                    val = encode_html(value)
                    quote = "'" if '"' in val else '"'
                    out.append(" " + name + "=" + quote + val + quote)
                if local in VOID_ELEMS and not child.child_nodes:
                    out.append("/>")
                else:
                    out.append(">")
                    stack.append("</" + local + ">")
                    stack.extend(reversed(child.child_nodes))
            elif child.node_type == ELEMENT_NODE:
                # element with EMPTY local name (bare namespace prefix,
                # e.g. <a:>): the reference serializes its children with
                # no surrounding tag (domparser.go:925-928 falls through
                # to child.GetInnerHTML(), which for an element is its
                # children's serialization) — treating it as a text node
                # would silently drop the whole subtree
                stack.extend(reversed(child.child_nodes))
            else:
                # text node: inline the TEXT_NODE branch of
                # get_inner_html — one method call per text node is a
                # measurable share of serializer time
                ih = child._inner_html
                if ih is None:
                    ih = child._inner_html = encode_text_content_html(
                        child._text_content or ""
                    )
                out.append(ih)
        return "".join(out)

    def set_inner_html(self, html: str) -> None:
        self._mark_text_dirty()
        if self.node_type == TEXT_NODE:
            self._inner_html = html
            self._text_content = None
        elif self.node_type == ELEMENT_NODE:
            self.adopt_children_from(parse_html(html, ""))
        else:
            self._inner_html = html

    def adopt_children_from(self, frag: "Node") -> None:
        """Replace this element's children with ``frag``'s (the
        set_inner_html adoption step, reusable for pre-parsed fragments)."""
        self._mark_text_dirty()
        for c in reversed(self.child_nodes):
            c.parent_node = None
        self.child_nodes = frag.child_nodes
        self.children = frag.children
        for c in self.child_nodes:
            c.parent_node = self

    # -- document-level ------------------------------------------------------

    def get_base_uri(self) -> str:
        """First-<base> resolution, memoized (domparser.go:697-720)."""
        if not self._base_uri:
            self._base_uri = self.document_uri
            bases = self.get_elements_by_tag_name("base")
            if bases:
                href = bases[0].get_attribute("href")
                if href:
                    try:
                        self._base_uri = urljoin(self.document_uri, href)
                    except ValueError:
                        return self.document_uri
        return self._base_uri


def clone_deep(root: Node) -> Node:
    """Structural deep clone of a subtree.

    Used by the grabArticle retry restore (readability.go:1193-1196 resets
    innerHTML from the page cache on every failed attempt): the cache is
    parsed ONCE and each retry adopts a clone of that pristine parsed tree —
    semantically identical to re-parsing (the clone copies the parse result
    itself, link-set for link-set), at a fraction of the tokenizer cost.
    Iterative (explicit stack) so kernel recursion limits never bind on
    pathologically deep documents.  Algorithm annotations (content_score,
    data_table) stay at their uninitialized defaults — the pristine source
    tree is never scored."""
    out = Node(root.node_type, root.node_name)
    out.local_name = root.local_name
    out.tag_name = root.tag_name
    out._text_content = root._text_content
    out._inner_html = root._inner_html
    out.attributes = [list(a) for a in root.attributes]
    stack = [(root, out)]
    while stack:
        orig, copy = stack.pop()
        prev: Node | None = None
        prev_el: Node | None = None
        for ch in orig.child_nodes:
            cc = Node(ch.node_type, ch.node_name)
            cc.local_name = ch.local_name
            cc.tag_name = ch.tag_name
            cc._text_content = ch._text_content
            cc._inner_html = ch._inner_html
            cc.attributes = [list(a) for a in ch.attributes]
            cc.parent_node = copy
            cc.previous_sibling = prev
            if prev is not None:
                prev.next_sibling = cc
            if cc.node_type == ELEMENT_NODE:
                cc.previous_element_sibling = prev_el
                if prev_el is not None:
                    prev_el.next_element_sibling = cc
                copy.children.append(cc)
                prev_el = cc
            copy.child_nodes.append(cc)
            prev = cc
            if ch.child_nodes:
                stack.append((ch, cc))
    return out


def _index_of(node: Node, nodes: list[Node]) -> int:
    for i, n in enumerate(nodes):
        if n is node:
            return i
    return -1


def new_text() -> Node:
    return Node(TEXT_NODE, "#text")


def new_document(url: str) -> Node:
    doc = Node(DOCUMENT_NODE, "#document")
    doc.document_uri = url
    return doc


def new_element(tag: str) -> Node:
    """Namespace-unaware element factory (domparser.go:722-740)."""
    n = Node(ELEMENT_NODE)
    if ":" in tag:
        tag = tag.rsplit(":", 1)[1]
    n.local_name = tag.lower()
    n.tag_name = tag.upper()
    return n


def create_text_node(text: str) -> Node:
    t = new_text()
    t.set_text_content(text)
    return t


_INTERESTING_LT = re.compile("<")


class _DOMBuilder(_HTMLParser):
    """Tokenizer-driven tree builder mirroring domparser.go:1029-1155.

    ``parse_html`` drives it with ``_scan``.  It stays an ``HTMLParser``
    subclass so the tests can drive the same handlers with the stock
    ``feed``, the reference ``_scan`` is checked against.

    Raw-text elements match the Go tokenizer's set minus script/noscript
    (which the reference explicitly opts out of raw-text mode for,
    domparser.go:1102-1104).
    """

    CDATA_CONTENT_ELEMENTS = (
        "style", "title", "textarea", "iframe", "xmp", "noembed", "noframes",
    )

    def __init__(self, doc: Node) -> None:
        super().__init__(convert_charrefs=False)
        self.doc = doc
        self.stack: list[Node] = [doc]
        self._buf: list[str] = []
        # '&' is never interesting: raw entity spellings flow into text
        # nodes verbatim (decoded lazily, domparser.go:629-639).
        self.interesting = _INTERESTING_LT

    def clear_cdata_mode(self) -> None:  # keep '&' uninteresting after raw text
        super().clear_cdata_mode()
        self.interesting = _INTERESTING_LT

    # -- text buffering ------------------------------------------------------

    def handle_data(self, data: str) -> None:
        self._buf.append(data)

    def handle_entityref(self, name: str) -> None:  # pragma: no cover - '&' never interesting
        self._buf.append("&" + name + ";")

    def handle_charref(self, name: str) -> None:  # pragma: no cover
        self._buf.append("&#" + name + ";")

    def _flush_text(self) -> None:
        if not self._buf:
            return
        raw = "".join(self._buf)
        self._buf.clear()
        if raw.startswith("<"):
            # Unhandled text token starting with '<' is dropped by the
            # reference (domparser.go:1079-1088).
            return
        t = new_text()
        t._inner_html = raw
        self.stack[-1]._append_fast(t)

    # -- structural events -----------------------------------------------------

    @staticmethod
    def _build_attrs(node: Node, attrs: list[tuple[str, str | None]]) -> None:
        # set_attribute semantics (first-position, last-value-wins on dup
        # names, domparser.go:762-770) without per-attr method dispatch
        alist = node.attributes
        for name, value in attrs:
            v = value if value is not None else ""
            for attr in alist:
                if attr[0] == name:
                    attr[1] = v
                    break
            else:
                alist.append([name, v])

    # ``start``/``end`` is the tag's source extent, which ``_scan`` reports
    # to every consumer; the tree does not keep it
    def handle_starttag(
        self, tag: str, attrs: list[tuple[str, str | None]], start: int = 0, end: int = 0
    ) -> None:
        self._flush_text()
        node = new_element(tag)
        if attrs:
            self._build_attrs(node, attrs)
        self.stack[-1]._append_fast(node)
        # Bare start tags always open a scope -- even void elements
        # (domparser_test.go:357-367).
        self.stack.append(node)

    def handle_startendtag(
        self, tag: str, attrs: list[tuple[str, str | None]], start: int = 0, end: int = 0
    ) -> None:
        self._flush_text()
        node = new_element(tag)
        if attrs:
            self._build_attrs(node, attrs)
        self.stack[-1]._append_fast(node)
        self._finish_element(node)

    def handle_endtag(self, tag: str) -> None:
        self._flush_text()
        # End tags close only the innermost open element; anything else is
        # ignored (domparser.go:1124-1127).  The comparison uses the raw
        # (possibly namespace-prefixed) end-tag name vs the stripped local
        # name, so prefixed end tags never match.
        if len(self.stack) > 1 and self.stack[-1].local_name == tag:
            node = self.stack.pop()
            self._finish_element(node)

    def _finish_element(self, node: Node) -> None:
        local = node.local_name
        if local == "title":
            if not self.doc.title:
                self.doc.title = node.get_text_content().strip()
        elif local == "head":
            self.doc.head = node
        elif local == "body":
            self.doc.body = node
        elif local == "html":
            self.doc.document_element = node

    def handle_comment(self, data: str) -> None:
        self._flush_text()  # comments discarded (domparser.go:1065-1066)

    def handle_pi(self, data: str) -> None:
        self._flush_text()  # processing instructions -> bogus comments -> dropped

    def handle_decl(self, decl: str) -> None:
        self._flush_text()
        if decl.lower().startswith("doctype"):
            self.stack[-1]._append_fast(Node(DOCUMENT_TYPE_NODE, "#documentType"))

    def unknown_decl(self, data: str) -> None:
        self._flush_text()
        if data.startswith("CDATA["):
            t = new_text()
            t.set_text_content(data[len("CDATA["):])
            self.stack[-1]._append_fast(t)

    def finish(self) -> None:
        self.close()
        self._flush_text()
        while len(self.stack) > 1:
            self._finish_element(self.stack.pop())


# -- the tokenizer -------------------------------------------------------------
#
# ``_scan`` is the engine's one HTML tokenizer: ``parse_html`` builds the DOM
# from it and the input span codec (codec/spans.py) classifies media tags
# from it.  It drives a consumer's handler methods exactly as html.parser
# 3.11's ``feed`` + ``close`` would drive them on a ``_DOMBuilder``:
# the same tokens, the same data, the same close()-time recovery, and an
# AssertionError wherever the stock parser raises one.  Stock ``feed`` itself
# runs only in the tests, as the reference this scanner is compared with.
#
# html.parser's goahead/parse_starttag machinery dominated kernel parse
# time (~40% profiled), so well-formed start tags take one compiled
# ``_FAST_START`` match and everything else takes the exact stock logic
# (``_parse_starttag``, ``_parse_endtag``, ``_parse_marked_section``)
# with html.parser's own patterns.  Each ``_FAST_START`` match consumes the
# exact span html.parser would: its tag-name / attr-name / value classes
# are strict SUBSETS of tagfind_tolerant / attrfind_tolerant, and a tag it
# does not match falls through to the exact path.  Possessive quantifiers
# (3.11+) make non-matching tags fail without backtracking.  Serializer
# output and the benchmark pages are always in the fast subset.
#
# Boundary rules that keep a fast match a true subset of html.parser's tokens:
# 1. The char RIGHT AFTER the tag name must be ASCII whitespace, '/' or
#    '>' — tagfind_tolerant's name class excludes only ASCII \t\n\r\f
#    space / > \x00, so a Unicode space (NBSP, \x0b,  ) there is
#    eaten INTO the name by html.parser; Python's Unicode-aware \s would
#    treat it as a separator and silently build a different tree.
#    Requiring an ASCII-ws first char per separator run (deeper \s is
#    fine: attrfind's own separators are Unicode \s) sends those tags
#    to the exact path instead.
# 2. Bare (unquoted) attribute values INCLUDE '/' — attrfind_tolerant's
#    value class is [^>\s]*, so html.parser parses <meta charset=utf-8/> as
#    an OPEN tag whose value is 'utf-8/'; excluding '/' here would let
#    (/?+)> claim it as self-closing and silently diverge.
# 3. An attribute may start IMMEDIATELY after a quoted value with no
#    whitespace (<button title="x"data-a="1">, common in minified HTML):
#    attrfind_tolerant's start anchor is the lookbehind (?<=['"\s/]),
#    satisfied by the closing quote itself, and
#    locatestarttagend_tolerant's [\s/]* separator matches empty there —
#    so html.parser tokenizes the run into separate attrs.  The (?<=[\"'])
#    separator alternative below fires exactly at those boundaries: bare
#    values exclude quotes in the fast subset, and a name run can only
#    STOP at a non-name char ({ws, =, /, >, <}, none a name-start), so
#    the previous char can only be a quote when a QUOTED VALUE just
#    closed — never mid-token.
# 4. Attr NAMES may contain quote chars and may LEAD with '='
#    (attrfind_tolerant's name classes are [^\s/>][^\s/=>]* — quotes
#    legal throughout, '=' legal as FIRST char only; real-corpus attr
#    soup like `presidency."=""` and `REL=" stylesheet "=" "` hit both).
#    The fast name class (=[^\s/>=<]*+|[^\s/>=<]++) is a strict subset
#    (it additionally excludes '<'); wherever the run stops early on a
#    char html.parser would keep, the tail pattern can't match and the tag
#    takes the exact path — tokens never silently diverge.
# 5. A name with no fast-parsable value must not be followed by '='
#    (the (?!\s*=) guard): html.parser's value indicator is '=+' and its bare
#    value class [^>\s]* also eats '=', quotes, and EMPTY values, so any
#    '=' the fast value alternation leaves behind would bind to the
#    PREVIOUS name there while the fast splitter would restart a fresh
#    name at it (`<a b = = c>` → feed: ('b','='),('c',None); unguarded
#    fast: ('b',None),('=','c')).
_FAST_START = re.compile(
    r"<([a-zA-Z][-a-zA-Z0-9._:]*+)"  # tag name: subset of tagfind_tolerant
    # attr name: subset of attrfind_tolerant — may LEAD with '=' but '='
    # never continues a name
    r"((?:(?:[\t\n\r\f ]\s*+|(?<=[\"']))(?:=[^\s/>=<]*+|[^\s/>=<]++)"
    # value: either a full '= value', or NO '=' may lie ahead (rule 5)
    r"(?:\s*+=\s*+(?:\"[^\"]*+\"|'[^']*+'|[^\s>\"'`=<]++)|(?!\s*=)))*+)"
    r"(?:[\t\n\r\f ]\s*+)?+(/?+)>"
)
# attr splitter over the validated attrs span (group 2 of _FAST_START)
_FAST_ATTR = re.compile(
    r"(?:[\t\n\r\f ]\s*+|(?<=[\"']))(=[^\s/>=<]*+|[^\s/>=<]++)"
    r"(?:\s*+=\s*+(\"[^\"]*+\"|'[^']*+'|[^\s>\"'`=<]++)|(?!\s*=))"
)
# identical to html.parser's endtagfind
_END_TAG = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
# identical to _markupbase's _commentclose
_COMMENT_CLOSE = re.compile(r"--\s*>")
# identical to _markupbase's _declname_match and marked-section closers
_DECLNAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*").match
_MARKED_CLOSE = re.compile(r"]\s*]\s*>")
_MS_MARKED_CLOSE = re.compile(r"]\s*>")
# identical to set_cdata_mode's per-element pattern
_CDATA_END = {
    elem: re.compile(rf"</\s*{elem}\s*>", re.I)
    for elem in _DOMBuilder.CDATA_CONTENT_ELEMENTS
}
# check_for_whole_start_tag's incomplete-input indicator set
_INCOMPLETE_NEXT = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ=/")

# the raw-text element set, as the tokenizer applies it
CDATA_CONTENT_ELEMENTS = _DOMBuilder.CDATA_CONTENT_ELEMENTS


def _parse_starttag(s: str, j: int, hd) -> tuple[int, str | None, list | None, bool]:
    """html.parser's check_for_whole_start_tag + parse_starttag at ``j``
    (``s[j] == '<'``, ``s[j+1]`` a letter), for tags ``_FAST_START``
    does not match.  Returns ``(end, tag, attrs, startend)``; ``tag`` is
    None when no token is emitted: ``end == -1`` for a tag incomplete at
    end of input (close()-time recovery follows), else the malformed
    tag's extent, already passed to ``hd`` as data."""
    k = _LOCATE_START.match(s, j).end()
    nxt = s[k : k + 1]
    if nxt == ">":
        end = k + 1
    elif nxt == "/" and s.startswith("/>", k):
        end = k + 2
    elif nxt == "" or nxt in _INCOMPLETE_NEXT:
        return -1, None, None, False
    else:
        end = k
    tm = _TAGFIND.match(s, j + 1)
    p = tm.end()
    attrs: list[tuple[str, str | None]] = []
    while p < end:
        am = _ATTRFIND.match(s, p)
        if not am:
            break
        name, rest, value = am.group(1, 2, 3)
        if not rest:
            value = None
        elif value[:1] == "'" == value[-1:] or value[:1] == '"' == value[-1:]:
            value = value[1:-1]
        if value:
            value = _unescape_html(value)
        attrs.append((name.lower(), value))
        p = am.end()
    tail = s[p:end].strip()
    if tail not in (">", "/>"):
        hd(s[j:end])
        return end, None, None, False
    return end, tm.group(1).lower(), attrs, tail == "/>"


def _parse_endtag(s: str, j: int, b) -> int:
    """html.parser's parse_endtag at ``j`` for an end tag ``_END_TAG``
    does not match (never in raw-text mode: ``_scan`` consumes raw text
    up to its close tag)."""
    gt = s.find(">", j + 2)
    if gt < 0:
        return -1
    nm = _TAGFIND.match(s, j + 2)
    if nm is None:
        if s.startswith("</>", j):
            return j + 3
        b.handle_comment(s[j + 2 : gt])  # parse_bogus_comment
        return gt + 1
    # the name class excludes '>', so the tag ends at the first '>'
    b.handle_endtag(nm.group(1).lower())
    return gt + 1


def _parse_marked_section(s: str, j: int, b) -> int:
    """_markupbase's parse_marked_section at ``j`` (``<![``): <![CDATA[..]]>
    et al.  (CDATA blocks inside scripts are common — script content is
    tokenized as markup in this builder.)"""
    if j + 3 == len(s):
        return -1
    nm = _DECLNAME(s, j + 3)
    if nm is None:
        raise AssertionError("expected name token at %r" % s[j : j + 20])
    if nm.end() == len(s):
        return -1
    sect = nm.group().strip().lower()
    if sect in ("temp", "cdata", "ignore", "include", "rcdata"):
        cm = _MARKED_CLOSE.search(s, j + 3)
    elif sect in ("if", "else", "endif"):
        cm = _MS_MARKED_CLOSE.search(s, j + 3)
    else:
        raise AssertionError(
            "unknown status keyword %r in marked section" % s[j + 3 : nm.end()]
        )
    if cm is None:
        return -1
    b.unknown_decl(s[j + 3 : cm.start()])
    return cm.end()


def _scan(s: str, b) -> None:
    """Drive consumer ``b``'s handler methods over ``s`` exactly as one
    html.parser ``feed`` + ``close`` would drive a ``_DOMBuilder``,
    raising AssertionError where it does.  Start-tag handlers also get
    the tag's source extent ``[start, end)``."""
    i, n = 0, len(s)
    hd = b.handle_data
    find = s.find
    start_m = _FAST_START.match
    end_m = _END_TAG.match
    cdata_set = CDATA_CONTENT_ELEMENTS
    while i < n:
        j = find("<", i)
        if j < 0:
            hd(s[i:])
            return
        if j > i:
            hd(s[i:j])
        c = s[j + 1 : j + 2]
        if ("a" <= c <= "z") or ("A" <= c <= "Z"):
            m = start_m(s, j)
            if m is not None:
                tag = m.group(1).lower()
                raw_attrs = m.group(2)
                attrs = []
                if raw_attrs:
                    for am in _FAST_ATTR.finditer(raw_attrs):
                        v = am.group(2)
                        if v is not None:
                            if v[0] in "\"'":
                                v = v[1:-1]
                            if "&" in v:
                                v = _unescape_html(v)
                        attrs.append((am.group(1).lower(), v))
                k = m.end()
                startend = m.group(3)
            else:
                k, tag, attrs, startend = _parse_starttag(s, j, hd)
            if startend:
                b.handle_startendtag(tag, attrs, j, k)
            elif tag is not None:
                b.handle_starttag(tag, attrs, j, k)
                if tag in cdata_set:
                    em = _CDATA_END[tag].search(s, k)
                    if em is None:
                        # unterminated raw text: goahead parks in cdata mode
                        # and the tail is never emitted — drop it identically
                        return
                    if em.start() > k:
                        hd(s[k : em.start()])
                    b.handle_endtag(tag)
                    k = em.end()
        elif c == "/":
            m = end_m(s, j)
            if m is not None:
                b.handle_endtag(m.group(1).lower())
                k = m.end()
            else:
                k = _parse_endtag(s, j, b)
        elif c == "!":
            if s.startswith("<!--", j):
                cm = _COMMENT_CLOSE.search(s, j + 4)
                if cm is None:
                    k = -1
                else:
                    b.handle_comment(s[j + 4 : cm.start()])
                    k = cm.end()
            elif s.startswith("<![", j):
                k = _parse_marked_section(s, j, b)
            elif s[j : j + 9].lower() == "<!doctype":
                k = find(">", j + 9)
                if k >= 0:
                    b.handle_decl(s[j + 2 : k])
                    k += 1
            else:
                k = find(">", j + 2)  # parse_bogus_comment
                if k >= 0:
                    b.handle_comment(s[j + 2 : k])
                    k += 1
        elif c == "?":
            k = find(">", j + 2)  # parse_pi
            if k >= 0:
                b.handle_pi(s[j + 2 : k])
                k += 1
        else:
            # '<' + non-markup char, or trailing '<' at EOF: literal data
            # (goahead's handle_data("<") branch / close()'s tail flush)
            hd("<")
            k = j + 1
        if k < 0:
            # close()-time recovery for an unterminated construct: up to
            # and including the next '>' (else up to the next '<', else
            # one char) becomes data, and tokenizing resumes there
            k = find(">", j + 1)
            if k < 0:
                k = find("<", j + 1)
                if k < 0:
                    k = j + 1
            else:
                k += 1
            hd(s[j:k])
        i = k


def parse_html(html_src: str, url: str = "") -> Node:
    """Parse an HTML string into a document node (domparser.go:1133-1155).

    Raises AssertionError on the malformed marked sections html.parser
    rejects (``parse_document`` reports them as ``parse_error``)."""
    doc = new_document(url)
    builder = _DOMBuilder(doc)
    _scan(html_src, builder)
    builder.finish()

    if doc.document_element is not None:
        for child in list(reversed(doc.child_nodes)):
            if child is not doc.document_element:
                doc.remove_child(child)
    return doc
