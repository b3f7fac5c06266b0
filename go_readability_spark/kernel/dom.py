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
"""

from __future__ import annotations

import re
from html.parser import HTMLParser as _HTMLParser
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

    def updatepos(self, i: int, j: int) -> int:
        # Line/column tracking is only consumed by getpos() (error
        # reporting), which this builder never calls — but the base
        # implementation counts newlines over every consumed token span,
        # a measurable share of tokenizer time on large pages.  Skip it;
        # callers only need the advanced cursor.
        return j

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

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        self._flush_text()
        node = new_element(tag)
        if attrs:
            self._build_attrs(node, attrs)
        self.stack[-1]._append_fast(node)
        # Bare start tags always open a scope -- even void elements
        # (domparser_test.go:357-367).
        self.stack.append(node)

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
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


class _Abort(Exception):
    """Fast scanner hit a construct outside its proven-equivalent subset."""


# -- fast-path tokenizer ------------------------------------------------------
#
# ``html.parser``'s goahead/parse_starttag machinery dominates kernel parse
# time (~40% profiled).  This scanner handles the WELL-FORMED subset with one
# compiled match per tag and raises _Abort on anything outside it, at which
# point parse_html falls back to the stock feed() path — so documents with
# quirky markup get byte-identical handling by construction, and documents in
# the subset get provably identical events (each pattern below consumes the
# exact span the corresponding html.parser 3.11 regex would: tag-name /
# attr-name / value classes are strict SUBSETS of tagfind_tolerant /
# attrfind_tolerant, the end-tag pattern IS endtagfind, the comment close IS
# _markupbase's ``--\s*>``, and the raw-text end pattern IS set_cdata_mode's).
# Possessive quantifiers (3.11+) make non-matching tags fail without
# backtracking.  Serializer output (the normalize-spans reparse) is always in
# the subset, so round-trip reparses take the fast path unconditionally.
#
# Aborting constructs: <! other than <!doctype/<!--, <?, tags with unquoted
# '/'-or-'<'-bearing values, bare '='/empty values, '=='+ indicators,
# truncated tags/comments at EOF — all rare in real corpora, absent from
# synth pages.  ('='-LED attr names fast-path since r4: they close the
# last real-page abort, clean-links.)

# Two boundary rules keep this a true subset of html.parser's tokens:
# 1. The char RIGHT AFTER the tag name must be ASCII whitespace, '/' or
#    '>' — tagfind_tolerant's name class excludes only ASCII \t\n\r\f
#    space / > \x00, so a Unicode space (NBSP, \x0b,  ) there is
#    eaten INTO the name by feed(); Python's Unicode-aware \s would
#    treat it as a separator and silently build a different tree.
#    Requiring an ASCII-ws first char per separator run (deeper \s is
#    fine: attrfind's own separators are Unicode \s) forces those
#    documents to _Abort instead.
# 2. Bare (unquoted) attribute values INCLUDE '/' — attrfind_tolerant's
#    value class is [^>\s]*, so feed() parses <meta charset=utf-8/> as
#    an OPEN tag whose value is 'utf-8/'; excluding '/' here would let
#    (/?+)> claim it as self-closing and silently diverge.
# 3. An attribute may start IMMEDIATELY after a quoted value with no
#    whitespace (<button title="x"data-a="1">, common in minified HTML —
#    the top real-corpus abort class): attrfind_tolerant's start anchor
#    is the lookbehind (?<=['"\s/]), satisfied by the closing quote
#    itself, and locatestarttagend_tolerant's [\s/]* separator matches
#    empty there — so feed() tokenizes the run into separate attrs.  The
#    (?<=[\"']) separator alternative below fires exactly at those
#    boundaries: bare values exclude quotes in the fast subset, and a
#    name run can only STOP at a non-name char ({ws, =, /, >, <}, none a
#    name-start), so the previous char can only be a quote when a QUOTED
#    VALUE just closed — never mid-token.  (Names starting right after a
#    BARE value can't occur: the bare-value run would have consumed them.)
# 4. Attr NAMES may contain quote chars and may LEAD with '='
#    (attrfind_tolerant's name classes are [^\s/>][^\s/=>]* — quotes
#    legal throughout, '=' legal as FIRST char only; real-corpus attr
#    soup like bbc-1's `presidency."=""` and clean-links'
#    `REL=" stylesheet "=" "` hit both).  The fast name class
#    (=[^\s/>=<]*+|[^\s/>=<]++) is a strict subset (it additionally
#    excludes '<'); wherever the run stops early on a char feed() would
#    keep, the tail pattern can't match and the whole tag ABORTS to the
#    fallback — tokens never silently diverge.
# 5. A name with no fast-parsable value must not be followed by '='
#    (the (?!\s*=) guard): feed()'s value indicator is '=+' and its bare
#    value class [^>\s]* also eats '=', quotes, and EMPTY values, so any
#    '=' the fast value alternation leaves behind would bind to the
#    PREVIOUS name there while the fast splitter would restart a fresh
#    name at it (`<a b = = c>` → feed: ('b','='),('c',None); unguarded
#    fast: ('b',None),('=','c')).  The guard turns every such tag into
#    an _Abort instead of a silent token divergence.
_FAST_START = re.compile(
    r"<([a-zA-Z][-a-zA-Z0-9._:]*+)"  # tag name: subset of tagfind_tolerant
    # attr name: subset of attrfind_tolerant — may LEAD with '=' (feed()'s
    # name class [^\s/>][^\s/=>]* accepts it; clean-links' REL="x"=" " does
    # this), but '=' never continues a name on either side
    r"((?:(?:[\t\n\r\f ]\s*+|(?<=[\"']))(?:=[^\s/>=<]*+|[^\s/>=<]++)"
    # value: either a full '= value', or NO '=' may lie ahead — feed()'s
    # indicator is '=+' and its bare-value class [^>\s]* eats '='/quotes/
    # empties, so an '=' the fast value class can't consume would bind
    # differently there; the lookahead forces those tags to _Abort instead
    r"(?:\s*+=\s*+(?:\"[^\"]*+\"|'[^']*+'|[^\s>\"'`=<]++)|(?!\s*=)))*+)"
    r"(?:[\t\n\r\f ]\s*+)?+(/?+)>"
)
# attr splitter over the validated attrs span (group 2 of _FAST_START)
_FAST_ATTR = re.compile(
    r"(?:[\t\n\r\f ]\s*+|(?<=[\"']))(=[^\s/>=<]*+|[^\s/>=<]++)"
    r"(?:\s*+=\s*+(\"[^\"]*+\"|'[^']*+'|[^\s>\"'`=<]++)|(?!\s*=))"
)
# identical to html.parser's endtagfind
_FAST_END = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
# identical to _markupbase's _commentclose
_FAST_COMMENT_CLOSE = re.compile(r"--\s*>")
# identical to _markupbase's _declname_match / section closers
_FAST_DECLNAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*").match
_FAST_MARKED_CLOSE = re.compile(r"]\s*]\s*>")
_FAST_MS_MARKED_CLOSE = re.compile(r"]\s*>")
# identical to set_cdata_mode's per-element pattern
_FAST_CDATA_END = {
    elem: re.compile(rf"</\s*{elem}\s*>", re.I)
    for elem in _DOMBuilder.CDATA_CONTENT_ELEMENTS
}

# public face of the raw-text element set for the span codec (codec/spans.py
# must classify media tags exactly as this parser tokenizes them)
CDATA_CONTENT_ELEMENTS = _DOMBuilder.CDATA_CONTENT_ELEMENTS

from html import unescape as _unescape_html  # noqa: E402 (html.parser's attr decode)


def _fast_scan(s: str, b: _DOMBuilder) -> None:
    """Drive ``b``'s handler methods over ``s`` exactly as one
    ``feed(s)`` + ``close()`` would, or raise _Abort."""
    i, n = 0, len(s)
    hd = b.handle_data
    find = s.find
    start_m = _FAST_START.match
    end_m = _FAST_END.match
    cdata_set = b.CDATA_CONTENT_ELEMENTS
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
            if m is None:
                raise _Abort
            tag = m.group(1).lower()
            raw_attrs = m.group(2)
            attrs: list[tuple[str, str | None]] = []
            if raw_attrs:
                for am in _FAST_ATTR.finditer(raw_attrs):
                    v = am.group(2)
                    if v is not None:
                        if v[0] in "\"'":
                            v = v[1:-1]
                        if "&" in v:
                            v = _unescape_html(v)
                    attrs.append((am.group(1).lower(), v))
            i = m.end()
            if m.group(3):
                b.handle_startendtag(tag, attrs)
            else:
                b.handle_starttag(tag, attrs)
                if tag in cdata_set:
                    em = _FAST_CDATA_END[tag].search(s, i)
                    if em is None:
                        # unterminated raw text: goahead parks in cdata mode
                        # and the tail is never emitted — drop it identically
                        return
                    if em.start() > i:
                        hd(s[i : em.start()])
                    b.handle_endtag(tag)
                    i = em.end()
        elif c == "/":
            m = end_m(s, j)
            if m is None:
                raise _Abort
            b.handle_endtag(m.group(1).lower())
            i = m.end()
        elif c == "!":
            if s.startswith("<!--", j):
                cm = _FAST_COMMENT_CLOSE.search(s, j + 4)
                if cm is None:
                    raise _Abort
                b.handle_comment(s[j + 4 : cm.start()])
                i = cm.end()
            elif s.startswith("<![", j):
                # _markupbase.parse_marked_section: <![CDATA[..]]> et al.
                # (CDATA blocks inside scripts are common — script content
                # is tokenized as markup in this builder).  A name the
                # stock path would AssertionError on aborts instead: the
                # fallback then raises identically, behavior preserved.
                nm = _FAST_DECLNAME(s, j + 3)
                if nm is None or nm.end() == n:
                    raise _Abort
                sect = nm.group().strip().lower()
                if sect in ("temp", "cdata", "ignore", "include", "rcdata"):
                    cm = _FAST_MARKED_CLOSE.search(s, j + 3)
                elif sect in ("if", "else", "endif"):
                    cm = _FAST_MS_MARKED_CLOSE.search(s, j + 3)
                else:
                    raise _Abort
                if cm is None:
                    raise _Abort
                b.unknown_decl(s[j + 3 : cm.start()])
                i = cm.end()
            elif s[j : j + 9].lower() == "<!doctype":
                g = find(">", j + 9)
                if g < 0:
                    raise _Abort
                b.handle_decl(s[j + 2 : g])
                i = g + 1
            else:
                raise _Abort
        elif c == "?":
            raise _Abort
        else:
            # '<' + non-markup char, or trailing '<' at EOF: literal data
            # (goahead's handle_data("<") branch / close()'s tail flush)
            hd("<")
            i = j + 1


def parse_html(html_src: str, url: str = "") -> Node:
    """Parse an HTML string into a document node (domparser.go:1133-1155)."""
    doc = new_document(url)
    builder = _DOMBuilder(doc)
    try:
        _fast_scan(html_src, builder)
    except _Abort:
        doc = new_document(url)
        builder = _DOMBuilder(doc)
        builder.feed(html_src)
    builder.finish()

    if doc.document_element is not None:
        for child in list(reversed(doc.child_nodes)):
            if child is not doc.document_element:
                doc.remove_child(child)
    return doc
