"""Arc90-style main-content extraction kernel (per-document, pure Python).

From-scratch re-derivation of the reference pipeline (readability.go) over
the quirk-faithful DOM in ``dom.py``.  This module is deliberately
Spark-free: one ``Readability(html, uri).parse()`` call handles exactly one
document and runs *inside* a ``mapInArrow`` batch; all cross-document
dataflow lives in ``go_readability_spark.spark``.

Every method cites the reference lines whose observable behavior it
reproduces so parity can be audited.  Magic constants are ported verbatim,
never "improved" (SURVEY.md section 7).
"""

from __future__ import annotations

import json
import math

from . import regexps as rx
from .dom import (
    DOCUMENT_NODE,
    ELEMENT_NODE,
    TEXT_NODE,
    Node,
    clone_deep,
    create_text_node,
    new_element,
    parse_html,
    release,
)
from .options import (
    DEFAULT_CHAR_THRESHOLD,
    FLAG_CLEAN_CONDITIONALLY,
    FLAG_STRIP_UNLIKELYS,
    FLAG_WEIGHT_CLASSES,
    Options,
    Result,
)
from .readerable import scan_readerable
from .urlfix import to_absolute_uri

# Element tags to score by default (readability.go:53).
DEFAULT_TAGS_TO_SCORE = frozenset(
    ("SECTION", "H2", "H3", "H4", "H5", "H6", "P", "TD", "PRE")
)

UNLIKELY_ROLES = frozenset(
    ("menu", "menubar", "complementary", "navigation", "alert", "alertdialog", "dialog")
)

DIV_TO_P_ELEMS = frozenset(
    ("BLOCKQUOTE", "DL", "DIV", "IMG", "OL", "P", "PRE", "TABLE", "UL")
)

ALTER_TO_DIV_EXCEPTIONS = ("DIV", "ARTICLE", "SECTION", "P")

PRESENTATIONAL_ATTRIBUTES = (
    "align", "background", "bgcolor", "border", "cellpadding", "cellspacing",
    "frame", "hspace", "rules", "style", "valign", "vspace",
)

DEPRECATED_SIZE_ATTRIBUTE_ELEMS = frozenset(("TABLE", "TH", "TD", "HR", "PRE"))

# Set forms of the cleanStyles drop lists (readability.go:1690-1710): attr
# names are unique per element (the parser stores last-write-wins), so one
# filter pass over the attribute list removes exactly what twelve
# remove_attribute scans would (~170 scans/doc saved; at or below the host
# noise floor in A/B, kept because it is strictly fewer operations).
_PRESENTATIONAL_SET = frozenset(PRESENTATIONAL_ATTRIBUTES)
_PRESENTATIONAL_PLUS_SIZE = _PRESENTATIONAL_SET | {"width", "height"}

PHRASING_ELEMS = frozenset((
    "ABBR", "AUDIO", "B", "BDO", "BR", "BUTTON", "CITE", "CODE", "DATA",
    "DATALIST", "DFN", "EM", "EMBED", "I", "IMG", "INPUT", "KBD", "LABEL",
    "MARK", "MATH", "METER", "NOSCRIPT", "OBJECT", "OUTPUT", "PROGRESS", "Q",
    "RUBY", "SAMP", "SCRIPT", "SELECT", "SMALL", "SPAN", "STRONG", "SUB",
    "SUP", "TEXTAREA", "TIME", "VAR", "WBR",
))


class NoArticleError(Exception):
    """Raised when extraction cannot produce an article (readability.go:2201-2203)."""


class TooLargeError(Exception):
    """Raised when the document exceeds max_elems_to_parse (readability.go:2176-2181)."""


def _any_of(*strings: str) -> str:
    for s in strings:
        if s:
            return s
    return ""


def _go_atoi(s: str) -> int:
    """strconv.Atoi semantics: strict integer or 0 (error path logs & keeps 0)."""
    if s and (s.isdigit() or (s[0] in "+-" and s[1:].isdigit())):
        try:
            return int(s)
        except ValueError:
            return 0
    return 0


def is_probably_visible(n: Node) -> bool:
    """Style/hidden/aria-hidden visibility gate (readability.go:2159-2165)."""
    if not n.attributes:  # every check below reads attributes; no attrs ⇒ visible
        return True
    if n.get_style("display") == "none":
        return False
    if n.get_style("visibility") == "hidden":
        return False
    if n.has_attribute("hidden"):
        return False
    if (
        n.has_attribute("aria-hidden")
        and n.get_attribute("aria-hidden") == "true"
        and "fallback-image" not in n.class_name
    ):
        return False
    return True


def _word_count(s: str) -> int:
    return len(rx.MULTIPLE_WHITESPACES.split(s))


class _Metadata:
    __slots__ = ("title", "byline", "excerpt", "site_name", "date_published", "published_time")

    def __init__(self) -> None:
        self.title = ""
        self.byline = ""
        self.excerpt = ""
        self.site_name = ""
        self.date_published = ""
        self.published_time = ""


class Readability:
    """One extraction run over one document (readability.go:79-128)."""

    def __init__(self, html_source: str, uri: str, options: Options | None = None) -> None:
        if not html_source:
            raise ValueError("first argument to Readability constructor should be a HTML document")
        self.options = options or Options()
        self.doc = parse_html(html_source, uri)
        # Start with all flags set (readability.go:125).
        self.flags = FLAG_STRIP_UNLIKELYS | FLAG_WEIGHT_CLASSES | FLAG_CLEAN_CONDITIONALLY
        self.article_title = ""
        self.article_byline = ""
        self.article_dir = ""
        self.article_site_name = ""
        self.article_lang = ""
        self.attempts: list[tuple[Node, int]] = []
        self._last_article: Node | None = None

    # -- flags ---------------------------------------------------------------

    def _flag_is_active(self, flag: int) -> bool:
        return bool(self.flags & flag)

    def _remove_flag(self, flag: int) -> None:
        self.flags &= ~flag

    # -- node-list helpers (readability.go:169-227) ---------------------------

    def _remove_nodes(self, node_list: list[Node], filter_fn=None) -> None:
        for node in reversed(node_list):
            parent = node.parent_node
            if parent is not None and (filter_fn is None or filter_fn(node)):
                parent.remove_child(node)

    def _replace_node_tags(self, node_list: list[Node], new_tag: str) -> None:
        for node in node_list:
            self._set_node_tag(node, new_tag)

    def _set_node_tag(self, n: Node, tag: str) -> Node:
        n.local_name = tag.lower()
        n.tag_name = tag.upper()
        return n

    def _get_all_nodes_with_tag(self, n: Node, *tags: str) -> list[Node]:
        if len(tags) == 1:
            return n.get_elements_by_tag_name(tags[0])
        # one walk, per-tag grouping preserved (see get_elements_by_tag_names)
        return n.get_elements_by_tag_names(tags)

    @staticmethod
    def _every_node(nodes: list[Node], fn) -> bool:
        return all(fn(n) for n in nodes)

    # -- post-processing (readability.go:154-164,232-424) ---------------------

    def _post_process_content(self, article_content: Node) -> None:
        self._fix_relative_uris(article_content)
        self._simplify_nested_elements(article_content)
        if not self.options.keep_classes:
            self._clean_classes(article_content)

    def _clean_classes(self, n: Node) -> None:
        # Iterative pre-order (reference recurses, readability.go:246-250;
        # per-node work is independent so walk order is free — crawl pages
        # nest past Python's recursion limit, see _clean_styles)
        stack = [n]
        while stack:
            node = stack.pop()
            class_name = node.get_attribute("class")
            if class_name:
                preserved = [
                    cls for cls in rx.MULTIPLE_WHITESPACES.split(class_name)
                    if cls in self.options.classes_to_preserve
                ]
                class_name = " ".join(preserved)
            if class_name:
                node.set_attribute("class", class_name)
            else:
                node.remove_attribute("class")
            stack.extend(reversed(node.children))

    def _fix_relative_uris(self, article_content: Node) -> None:
        base_uri = self.doc.get_base_uri()
        document_uri = self.doc.document_uri

        def to_abs(uri: str) -> str:
            return to_absolute_uri(uri, base_uri, document_uri)

        for link in self._get_all_nodes_with_tag(article_content, "a"):
            href = link.get_attribute("href")
            if not href:
                continue
            if href.startswith("javascript:"):
                # readability.go:349-361: javascript: links are unwrapped.
                if len(link.child_nodes) == 1 and link.child_nodes[0].node_type == TEXT_NODE:
                    text = create_text_node(link.get_text_content())
                    link.parent_node.replace_child(text, link)
                else:
                    container = new_element("span")
                    container.adopt_children_from(link)
                    link.parent_node.replace_child(container, link)
            elif ",%20" in href:
                parts = [to_abs(piece) for piece in href.split(",%20")]
                link.set_attribute("href", ",%20".join(parts))
            else:
                link.set_attribute("href", to_abs(href))

        medias = self._get_all_nodes_with_tag(
            article_content, "img", "picture", "figure", "video", "audio", "source"
        )
        for media in medias:
            src = media.get_attribute("src")
            if src:
                media.set_attribute("src", to_abs(src))
            poster = media.get_attribute("poster")
            if poster:
                media.set_attribute("poster", to_abs(poster))
            srcset = media.get_attribute("srcset")
            if srcset:
                parts = [
                    to_abs(url) + (desc or "") + (sep or "")
                    # linear-time SRCSET_URL.findall (regexps.findall_srcset
                    # docstring: the regex is O(n^2) under Python's engine)
                    for url, desc, sep in rx.findall_srcset(srcset)
                ]
                joiner = " " if ", " in srcset else ""
                media.set_attribute("srcset", joiner.join(parts))

    def _simplify_nested_elements(self, article_content: Node) -> None:
        node: Node | None = article_content
        while node is not None:
            if (
                node.parent_node is not None
                and node.tag_name in ("DIV", "SECTION")
                and not node.id.startswith("readability")
            ):
                if self._is_element_without_content(node):
                    node = self._remove_and_get_next(node)
                    continue
                if self._has_single_tag_inside_element(node, "DIV") or (
                    self._has_single_tag_inside_element(node, "SECTION")
                ):
                    child = node.children[0]
                    for name, value in list(node.attributes):
                        child.set_attribute(name, value)
                    node.parent_node.replace_child(child, node)
                    node = child
                    continue
            node = self._get_next_node(node, False)

    # -- title (readability.go:427-503) ----------------------------------------

    def _get_article_title(self) -> str:
        doc = self.doc
        cur_title = doc.title.strip()
        orig_title = cur_title

        if not cur_title:
            titles = doc.get_elements_by_tag_name("title")
            if titles:
                cur_title = self._get_inner_text(titles[0], True)
                orig_title = cur_title

        title_had_hierarchical_separators = False

        if rx.TITLE_FINAL_PART.search(cur_title):
            title_had_hierarchical_separators = bool(rx.TITLE_SEPARATORS.search(cur_title))
            m = rx.OTHER_TITLE_SEPARATORS.match(orig_title)
            if m:
                cur_title = m.group(1)
            # Too short -> the reference's "first part" fallback is a no-op
            # self-replacement (readability.go:456-459), i.e. the original.
            if _word_count(cur_title) < 3:
                cur_title = orig_title
        elif ": " in cur_title:
            headings = (
                doc.get_elements_by_tag_name("h1") + doc.get_elements_by_tag_name("h2")
            )
            trimmed = cur_title.strip()
            match = any(h.get_text_content().strip() == trimmed for h in headings)
            if not match:
                cur_title = orig_title[orig_title.rfind(":") + 1 :]
            if _word_count(cur_title) < 3:
                cur_title = orig_title[orig_title.find(":") + 1 :]
            elif _word_count(orig_title[: orig_title.find(":")]) > 5:
                cur_title = orig_title
        elif len(cur_title) > 150 or len(cur_title) < 15:
            h_ones = doc.get_elements_by_tag_name("h1")
            if len(h_ones) == 1:
                cur_title = self._get_inner_text(h_ones[0], True)

        cur_title = rx.NORMALIZE.sub(" ", cur_title.strip())
        cur_title_word_count = _word_count(cur_title)
        if cur_title_word_count <= 4 and (
            not title_had_hierarchical_separators
            or cur_title_word_count != _word_count(rx.SEPARATORS.sub("", orig_title))
        ):
            cur_title = orig_title
        return cur_title

    # -- document prep (readability.go:507-599) ---------------------------------

    def _prep_document(self) -> None:
        doc = self.doc
        self._remove_nodes(self._get_all_nodes_with_tag(doc, "style"), None)
        if doc.body is not None:
            self._replace_brs(doc.body)
        self._replace_node_tags(self._get_all_nodes_with_tag(doc, "font"), "SPAN")

    def _next_node(self, n: Node | None) -> Node | None:
        nxt = n
        while (
            nxt is not None
            and nxt.node_type != ELEMENT_NODE
            and rx.WHITESPACE.match(nxt.get_text_content())
        ):
            nxt = nxt.next_sibling
        return nxt

    def _replace_brs(self, n: Node) -> None:
        for br in self._get_all_nodes_with_tag(n, "br"):
            replaced = False
            # NB: whitespace is skipped only once, before the chain -- the
            # reference applies nextNode in the loop *init* only
            # (readability.go:552-559), unlike readability.js.
            nxt = self._next_node(br.next_sibling)
            while nxt is not None and nxt.tag_name == "BR":
                replaced = True
                br_sibling = nxt.next_sibling
                nxt.parent_node.remove_child(nxt)
                nxt = br_sibling
            if replaced:
                p = new_element("p")
                br.parent_node.replace_child(p, br)
                nxt = p.next_sibling
                while nxt is not None:
                    if nxt.tag_name == "BR":
                        next_elem = self._next_node(nxt.next_sibling)
                        if next_elem is not None and next_elem.tag_name == "BR":
                            break
                    if not self._is_phrasing_content(nxt):
                        break
                    sibling = nxt.next_sibling
                    p.append_child(nxt)
                    nxt = sibling
                while p.last_child() is not None and self._is_whitespace(p.last_child()):
                    p.remove_child(p.last_child())
                if p.parent_node.tag_name == "P":
                    self._set_node_tag(p.parent_node, "DIV")

    # -- article prep (readability.go:610-694) -----------------------------------

    def _prep_article(self, article_content: Node) -> None:
        self._clean_styles(article_content)

        self._mark_data_tables(article_content)
        self._fix_lazy_images(article_content)

        self._clean_conditionally(article_content, "form")
        self._clean_conditionally(article_content, "fieldset")
        self._clean(article_content, "object")
        self._clean(article_content, "embed")
        self._clean(article_content, "footer")
        self._clean(article_content, "link")
        self._clean(article_content, "aside")

        share_element_threshold = DEFAULT_CHAR_THRESHOLD
        for top_candidate in article_content.children:
            self._clean_matched_nodes(
                top_candidate,
                lambda node, match_string: (
                    rx.SHARE_ELEMENTS.search(match_string) is not None
                    and len(node.get_text_content()) < share_element_threshold
                ),
            )

        self._clean(article_content, "iframe")
        self._clean(article_content, "input")
        self._clean(article_content, "textarea")
        self._clean(article_content, "select")
        self._clean(article_content, "button")
        self._clean_headers(article_content)

        self._clean_conditionally(article_content, "table")
        self._clean_conditionally(article_content, "ul")
        self._clean_conditionally(article_content, "div")

        self._replace_node_tags(self._get_all_nodes_with_tag(article_content, "h1"), "h2")

        def _is_extra_paragraph(paragraph: Node) -> bool:
            # one early-exit walk instead of four full scans; the blank
            # probe equals _get_inner_text(paragraph, False) == ""
            return not paragraph.has_descendant_tag(
                ("IMG", "EMBED", "OBJECT", "IFRAME")
            ) and paragraph.subtree_text_is_blank()

        self._remove_nodes(
            self._get_all_nodes_with_tag(article_content, "p"), _is_extra_paragraph
        )

        for br in self._get_all_nodes_with_tag(article_content, "br"):
            nxt = self._next_node(br.next_sibling)
            if nxt is not None and nxt.tag_name == "P":
                br.parent_node.remove_child(br)

        for table in self._get_all_nodes_with_tag(article_content, "table"):
            tbody = table
            if self._has_single_tag_inside_element(table, "TBODY"):
                tbody = table.first_element_child()
            if self._has_single_tag_inside_element(tbody, "TR"):
                row = tbody.first_element_child()
                if self._has_single_tag_inside_element(row, "TD"):
                    cell = row.first_element_child()
                    tag = "P" if self._every_node(cell.child_nodes, self._is_phrasing_content) else "DIV"
                    cell = self._set_node_tag(cell, tag)
                    table.parent_node.replace_child(cell, table)

    # -- scoring primitives (readability.go:698-719,1737-1765) --------------------

    def _initialize_node(self, n: Node) -> None:
        score = 0.0
        tag = n.tag_name
        if tag == "DIV":
            score += 5
        elif tag in ("PRE", "TD", "BLOCKQUOTE"):
            score += 3
        elif tag in ("ADDRESS", "OL", "UL", "DL", "DD", "DT", "LI", "FORM"):
            score -= 3
        elif tag in ("H1", "H2", "H3", "H4", "H5", "H6", "TH"):
            score -= 5
        n.content_score = score + self._get_class_weight(n)

    def _get_class_weight(self, e: Node) -> float:
        if not self._flag_is_active(FLAG_WEIGHT_CLASSES):
            return 0.0
        weight = 0
        cls = e.class_name
        if cls:
            if rx.NEGATIVE.search(cls):
                weight -= 25
            if rx.POSITIVE.search(cls):
                weight += 25
        id_ = e.id
        if id_:
            if rx.NEGATIVE.search(id_):
                weight -= 25
            if rx.POSITIVE.search(id_):
                weight += 25
        return float(weight)

    # -- traversal (readability.go:721-753) ----------------------------------------

    def _remove_and_get_next(self, n: Node) -> Node | None:
        nxt = self._get_next_node(n, True)
        if n.parent_node is not None:
            n.parent_node.remove_child(n)
        return nxt

    def _get_next_node(self, n: Node, ignore_self_and_kids: bool) -> Node | None:
        if not ignore_self_and_kids and n.first_element_child() is not None:
            return n.first_element_child()
        if n.next_element_sibling is not None:
            return n.next_element_sibling
        node = n.parent_node
        while node is not None and node.next_element_sibling is None:
            node = node.parent_node
        return node.next_element_sibling if node is not None else None

    # -- text similarity / byline (readability.go:759-789,1287-1290) ----------------

    def _text_similarity(self, text_a: str, text_b: str) -> float:
        tokens_a = rx.TOKENIZE.split(text_a.lower())
        tokens_b = rx.TOKENIZE.split(text_b.lower())
        if not tokens_a or not tokens_b:
            return 0.0
        uniq_b = [t for t in tokens_b if t and t not in tokens_a]
        denom = len(" ".join(tokens_b))
        if denom == 0:
            return 0.0  # Go yields NaN here; both fail every >-threshold check
        distance_b = len(" ".join(uniq_b)) / denom
        return 1 - distance_b

    def _check_byline(self, n: Node, match_string: str) -> bool:
        if self.article_byline:
            return False
        rel = n.get_attribute("rel")
        itemprop = n.get_attribute("itemprop")
        if (
            rel == "author" or "author" in itemprop or rx.BYLINE.search(match_string)
        ) and self._is_valid_byline(n.get_text_content()):
            self.article_byline = n.get_text_content().strip()
            return True
        return False

    @staticmethod
    def _is_valid_byline(possible: str) -> bool:
        n = len(possible.strip())
        return 0 < n < 100

    def _get_node_ancestors(self, n: Node, max_depth: int) -> list[Node]:
        i, ancestors = 0, []
        while n.parent_node is not None:
            ancestors.append(n.parent_node)
            i += 1
            if i == max_depth:
                break
            n = n.parent_node
        return ancestors

    # -- grabArticle (readability.go:805-1282) ---------------------------------------

    def _grab_article(self, page: Node | None) -> Node | None:
        doc = self.doc
        is_paging = page is not None
        if page is None:
            page = doc.body
        if page is None:
            return None

        page_cache_html = page.get_inner_html()
        # Parsed-once pristine copy of the cache: each failed attempt adopts
        # a deep clone instead of re-tokenizing the HTML (see dom.clone_deep).
        # It shares no node with the page, so it is released on return.
        pristine_cache: Node | None = None

        while True:
            strip_unlikely_candidates = self._flag_is_active(FLAG_STRIP_UNLIKELYS)

            elements_to_score: list[Node] = []
            n: Node | None = doc.document_element
            should_remove_title_header = True

            while n is not None:
                if n.tag_name == "HTML":
                    self.article_lang = n.get_attribute("lang")

                # class+id scan only when the node has attributes at all
                match_string = (n.class_name + " " + n.id) if n.attributes else " "

                if not is_probably_visible(n):
                    n = self._remove_and_get_next(n)
                    continue

                if n.get_attribute("aria-modal") == "true" and n.get_attribute("role") == "dialog":
                    n = self._remove_and_get_next(n)
                    continue

                if self._check_byline(n, match_string):
                    n = self._remove_and_get_next(n)
                    continue

                if should_remove_title_header and self._header_duplicates_title(n):
                    should_remove_title_header = False
                    n = self._remove_and_get_next(n)
                    continue

                if strip_unlikely_candidates:
                    if (
                        rx.UNLIKELY_CANDIDATES.search(match_string)
                        and not rx.OK_MAYBE_ITS_A_CANDIDATE.search(match_string)
                        and not self._has_ancestor_tag(n, "table", 3, None)
                        and not self._has_ancestor_tag(n, "code", 3, None)
                        and n.tag_name != "BODY"
                        and n.tag_name != "A"
                    ):
                        n = self._remove_and_get_next(n)
                        continue

                if n.get_attribute("role") in UNLIKELY_ROLES:
                    n = self._remove_and_get_next(n)
                    continue

                if n.tag_name in (
                    "DIV", "SECTION", "HEADER", "H1", "H2", "H3", "H4", "H5", "H6"
                ) and self._is_element_without_content(n):
                    n = self._remove_and_get_next(n)
                    continue

                if n.tag_name in DEFAULT_TAGS_TO_SCORE:
                    elements_to_score.append(n)

                if n.tag_name == "DIV":
                    # Put phrasing content into paragraphs (readability.go:908-930).
                    p = None
                    child_node = n.first_child()
                    while child_node is not None:
                        next_sibling = child_node.next_sibling
                        if self._is_phrasing_content(child_node):
                            if p is not None:
                                p.append_child(child_node)
                            elif not self._is_whitespace(child_node):
                                p = new_element("p")
                                n.replace_child(p, child_node)
                                p.append_child(child_node)
                        elif p is not None:
                            while p.last_child() is not None and self._is_whitespace(p.last_child()):
                                p.remove_child(p.last_child())
                            p = None
                        child_node = next_sibling

                    if (
                        self._has_single_tag_inside_element(n, "P")
                        and self._get_link_density(n) < 0.25
                    ):
                        new_node = n.children[0]
                        n.parent_node.replace_child(new_node, n)
                        n = new_node
                        elements_to_score.append(n)
                    elif not self._has_child_block_element(n):
                        n = self._set_node_tag(n, "P")
                        elements_to_score.append(n)
                n = self._get_next_node(n, False)

            # Score paragraphs and propagate to ancestors (readability.go:954-1007).
            candidates: list[Node] = []
            for element_to_score in elements_to_score:
                if element_to_score.parent_node is None:
                    continue
                inner_text = self._get_inner_text(element_to_score, True)
                if len(inner_text) < 25:
                    continue
                ancestors = self._get_node_ancestors(element_to_score, 5)
                if not ancestors:
                    continue

                content_score = 1.0
                content_score += float(len(rx.COMMAS.split(inner_text)))
                content_score += min(math.floor(len(inner_text) / 100), 3)

                for level, ancestor in enumerate(ancestors):
                    if (
                        not ancestor.tag_name
                        or ancestor.parent_node is None
                        or not ancestor.parent_node.tag_name
                    ):
                        continue
                    if ancestor.content_score is None:
                        self._initialize_node(ancestor)
                        candidates.append(ancestor)
                    if level == 0:
                        divider = 1
                    elif level == 1:
                        divider = 2
                    else:
                        divider = level * 3
                    ancestor.content_score += content_score / divider

            # Top-N candidate selection (readability.go:1011-1043).
            top_candidates: list[Node] = []
            for candidate in candidates:
                candidate_score = candidate.content_score * (
                    1 - self._get_link_density(candidate)
                )
                candidate.content_score = candidate_score
                for t in range(self.options.nb_top_candidates):
                    a_top = top_candidates[t] if len(top_candidates) > t else None
                    if a_top is None or candidate_score > a_top.content_score:
                        top_candidates.insert(t, candidate)
                        if len(top_candidates) > self.options.nb_top_candidates:
                            top_candidates.pop()
                        break

            top_candidate = top_candidates[0] if top_candidates else None
            needed_to_create_top_candidate = False
            parent_of_top_candidate: Node | None = None

            if top_candidate is None or top_candidate.tag_name == "BODY":
                # Fall back to the whole body (readability.go:1049-1062).
                top_candidate = new_element("DIV")
                needed_to_create_top_candidate = True
                top_candidate.adopt_children_from(page)
                page.append_child(top_candidate)
                self._initialize_node(top_candidate)
            else:
                # Alternative common-ancestor promotion (readability.go:1064-1091).
                alternative_candidate_ancestors = []
                top_score = top_candidate.content_score
                for other in top_candidates[1:]:
                    # Mirror Go float division: x/0 -> +-Inf, 0/0 -> NaN (never >= 0.75).
                    if top_score != 0:
                        ratio = other.content_score / top_score
                    elif other.content_score > 0:
                        ratio = math.inf
                    else:
                        ratio = math.nan
                    if ratio >= 0.75:
                        alternative_candidate_ancestors.append(
                            self._get_node_ancestors(other, 0)
                        )
                MINIMUM_TOPCANDIDATES = 3
                if len(alternative_candidate_ancestors) >= MINIMUM_TOPCANDIDATES:
                    parent_of_top_candidate = top_candidate.parent_node
                    while (
                        parent_of_top_candidate is not None
                        and parent_of_top_candidate.tag_name != "BODY"
                    ):
                        lists_containing = 0
                        for ancestor_list in alternative_candidate_ancestors:
                            if lists_containing >= MINIMUM_TOPCANDIDATES:
                                break
                            if any(a is parent_of_top_candidate for a in ancestor_list):
                                lists_containing += 1
                        if lists_containing >= MINIMUM_TOPCANDIDATES:
                            top_candidate = parent_of_top_candidate
                            break
                        parent_of_top_candidate = parent_of_top_candidate.parent_node
                if top_candidate.content_score is None:
                    self._initialize_node(top_candidate)

                # Parent climb while score improves (readability.go:1103-1124).
                parent_of_top_candidate = top_candidate.parent_node
                last_score = top_candidate.content_score
                score_threshold = last_score / 3
                while (
                    parent_of_top_candidate is not None
                    and parent_of_top_candidate.tag_name != "BODY"
                ):
                    if parent_of_top_candidate.content_score is None:
                        parent_of_top_candidate = parent_of_top_candidate.parent_node
                        continue
                    parent_score = parent_of_top_candidate.content_score
                    if parent_score < score_threshold:
                        break
                    if parent_score > last_score:
                        top_candidate = parent_of_top_candidate
                        break
                    last_score = parent_of_top_candidate.content_score
                    parent_of_top_candidate = parent_of_top_candidate.parent_node

                # Single-child climb (readability.go:1128-1135).
                parent_of_top_candidate = top_candidate.parent_node
                while (
                    parent_of_top_candidate is not None
                    and parent_of_top_candidate.tag_name != "BODY"
                    and len(parent_of_top_candidate.children) == 1
                ):
                    top_candidate = parent_of_top_candidate
                    parent_of_top_candidate = top_candidate.parent_node
                if top_candidate.content_score is None:
                    self._initialize_node(top_candidate)

            # Sibling join (readability.go:1138-1202).
            article_content = new_element("DIV")
            if is_paging:
                article_content.set_attribute("id", "readability-content")
            sibling_score_threshold = max(10.0, top_candidate.content_score * 0.2)
            parent_of_top_candidate = top_candidate.parent_node
            siblings = parent_of_top_candidate.children
            s = 0
            while s < len(siblings):
                sibling = siblings[s]
                append = False

                if sibling is top_candidate:
                    append = True
                else:
                    content_bonus = 0.0
                    if (
                        sibling.class_name == top_candidate.class_name
                        and top_candidate.class_name != ""
                    ):
                        content_bonus += top_candidate.content_score * 0.2
                    if (
                        sibling.content_score is not None
                        and sibling.content_score + content_bonus >= sibling_score_threshold
                    ):
                        append = True
                    elif sibling.tag_name == "P":
                        link_density = self._get_link_density(sibling)
                        node_content = self._get_inner_text(sibling, True)
                        node_length = len(node_content)
                        if node_length > 80 and link_density < 0.25:
                            append = True
                        elif (
                            node_length < 80
                            and link_density == 0
                            and rx.DOT_SPACE_OR_DOLLAR.search(node_content)
                        ):
                            append = True

                if append:
                    if sibling.tag_name not in ALTER_TO_DIV_EXCEPTIONS:
                        sibling = self._set_node_tag(sibling, "DIV")
                    article_content.append_child(sibling)
                    siblings = parent_of_top_candidate.children
                    # appendChild removed the sibling: revisit this index.
                    continue
                s += 1

            self._prep_article(article_content)

            if needed_to_create_top_candidate:
                top_candidate.set_attribute("id", "readability-page-1")
                top_candidate.set_attribute("class", "page")
            else:
                div = new_element("DIV")
                div.set_attribute("id", "readability-page-1")
                div.set_attribute("class", "page")
                div.adopt_children_from(article_content)
                article_content.append_child(div)

            parse_successful = True
            text_length = len(self._get_inner_text(article_content, True))
            if text_length < self.options.char_threshold:
                parse_successful = False
                if pristine_cache is None:
                    pristine_cache = parse_html(page_cache_html, "")
                page.adopt_children_from(clone_deep(pristine_cache))
                if self._flag_is_active(FLAG_STRIP_UNLIKELYS):
                    self._remove_flag(FLAG_STRIP_UNLIKELYS)
                    self.attempts.append((article_content, text_length))
                elif self._flag_is_active(FLAG_WEIGHT_CLASSES):
                    self._remove_flag(FLAG_WEIGHT_CLASSES)
                    self.attempts.append((article_content, text_length))
                elif self._flag_is_active(FLAG_CLEAN_CONDITIONALLY):
                    self._remove_flag(FLAG_CLEAN_CONDITIONALLY)
                    self.attempts.append((article_content, text_length))
                else:
                    self.attempts.append((article_content, text_length))
                    self.attempts.sort(key=lambda a: -a[1])
                    if self.attempts[0][1] == 0:
                        release(pristine_cache)
                        return None
                    article_content = self.attempts[0][0]
                    parse_successful = True

            if parse_successful:
                # Text direction from ancestors (readability.go:1264-1279).
                ancestors = [parent_of_top_candidate, top_candidate]
                ancestors.extend(self._get_node_ancestors(parent_of_top_candidate, 0))
                for ancestor in ancestors:
                    if ancestor is None or not ancestor.tag_name:
                        continue
                    article_dir = ancestor.get_attribute("dir")
                    if article_dir:
                        self.article_dir = article_dir
                        break
                if pristine_cache is not None:
                    release(pristine_cache)
                return article_content

    # -- metadata (readability.go:1293-1540) --------------------------------------

    def _unescape_html_entities(self, s: str) -> str:
        if not s:
            return s
        from .dom import decode_html

        return decode_html(s)

    def _get_jsonld(self, doc: Node) -> _Metadata | None:
        meta: _Metadata | None = None
        for element in self._get_all_nodes_with_tag(doc, "script"):
            if meta is not None or element.get_attribute("type") != "application/ld+json":
                continue
            content = rx.CDATA_MARKERS.sub("", element.get_text_content())
            try:
                parsed = json.loads(content)
            except (ValueError, TypeError):
                continue
            if not isinstance(parsed, dict):
                continue
            ctx = parsed.get("@context")
            if not isinstance(ctx, str) or not rx.SCHEMA_URL.search(ctx):
                continue

            if "@type" not in parsed or "@graph" in parsed:
                graph = parsed.get("@graph")
                if isinstance(graph, list):
                    for el in graph:
                        if isinstance(el, dict):
                            el_type = el.get("@type")
                            if isinstance(el_type, str) and rx.JSONLD_ARTICLE_TYPES.search(el_type):
                                parsed = el
                                break

            ptype = parsed.get("@type")
            if not isinstance(ptype, str) or not rx.JSONLD_ARTICLE_TYPES.search(ptype):
                continue

            meta = _Metadata()
            name = parsed.get("name")
            headline = parsed.get("headline")
            if (
                isinstance(name, str)
                and isinstance(headline, str)
                and name != headline
            ):
                # Prefer whichever closely matches the page title
                # (readability.go:1365-1378).
                title = self._get_article_title()
                name_matches = self._text_similarity(name, title) > 0.75
                headline_matches = self._text_similarity(headline, title) > 0.75
                meta.title = headline if (headline_matches and not name_matches) else name
            elif isinstance(name, str):
                meta.title = name.strip()
            elif isinstance(headline, str):
                meta.title = headline.strip()

            author = parsed.get("author")
            if isinstance(author, dict):
                author_name = author.get("name")
                if isinstance(author_name, str):
                    meta.byline = author_name.strip()
            elif isinstance(author, list) and author:
                first = author[0]
                if isinstance(first, dict) and isinstance(first.get("name"), str):
                    names = []
                    for a in author:
                        if isinstance(a, dict) and isinstance(a.get("name"), str):
                            names.append(a["name"].strip())
                    meta.byline = ", ".join(names)

            descr = parsed.get("description")
            if isinstance(descr, str):
                meta.excerpt = descr.strip()
            publisher = parsed.get("publisher")
            if isinstance(publisher, dict) and isinstance(publisher.get("name"), str):
                meta.site_name = publisher["name"].strip()
            date_published = parsed.get("datePublished")
            if isinstance(date_published, str):
                meta.date_published = date_published.strip()
        return meta

    def _get_article_metadata(self, jsonld: _Metadata | None) -> _Metadata:
        meta = _Metadata()
        values: dict[str, str] = {}
        for element in self.doc.get_elements_by_tag_name("meta"):
            element_name = element.get_attribute("name")
            element_property = element.get_attribute("property")
            content = element.get_attribute("content")
            if not content:
                continue

            matched_property = None
            if element_property:
                m = rx.PROPERTY_PATTERN.search(element_property)
                if m:
                    matched_property = m.group(0)
                    name = rx.SINGLE_WHITESPACE.sub("", matched_property.lower())
                    values[name] = content.strip()

            if matched_property is None and element_name and rx.NAME_PATTERN.search(element_name):
                name = rx.SINGLE_WHITESPACE.sub("", element_name.lower())
                name = rx.SINGLE_DOT.sub(":", name)
                values[name] = content.strip()

        if jsonld is None:
            jsonld = _Metadata()

        meta.title = _any_of(
            jsonld.title,
            values.get("dc:title", ""),
            values.get("dcterm:title", ""),
            values.get("og:title", ""),
            values.get("weibo:article:title", ""),
            values.get("weibo:webpage:title", ""),
            values.get("title", ""),
            values.get("twitter:title", ""),
        )
        if not meta.title:
            meta.title = self._get_article_title()

        meta.byline = _any_of(
            jsonld.byline,
            values.get("dc:creator", ""),
            values.get("dcterm:creator", ""),
            values.get("author", ""),
        )
        meta.excerpt = _any_of(
            jsonld.excerpt,
            values.get("dc:description", ""),
            values.get("dcterm:description", ""),
            values.get("og:description", ""),
            values.get("weibo:article:description", ""),
            values.get("weibo:webpage:description", ""),
            values.get("description", ""),
            values.get("twitter:description", ""),
        )
        meta.site_name = _any_of(jsonld.site_name, values.get("og:site_name", ""))
        meta.published_time = _any_of(
            jsonld.date_published, values.get("article:published_time", "")
        )

        meta.title = self._unescape_html_entities(meta.title)
        meta.byline = self._unescape_html_entities(meta.byline)
        meta.excerpt = self._unescape_html_entities(meta.excerpt)
        meta.site_name = self._unescape_html_entities(meta.site_name)
        meta.published_time = self._unescape_html_entities(meta.published_time)
        return meta

    # -- noscript images (readability.go:1544-1623) ---------------------------------

    def _is_single_image(self, n: Node) -> bool:
        # Single-child descent as a loop (tail recursion in the reference,
        # readability.go:1544-1553)
        while True:
            if n.tag_name == "IMG":
                return True
            if len(n.children) != 1 or n.get_text_content().strip() != "":
                return False
            n = n.children[0]

    def _unwrap_noscript_images(self, doc: Node) -> None:
        for img in doc.get_elements_by_tag_name("img"):
            contains_img = any(
                name in ("src", "srcset", "data-src", "data-srcset")
                or rx.IMG_EXTENSIONS.search(value)
                for name, value in img.attributes
            )
            if not contains_img and img.parent_node is not None:
                img.parent_node.remove_child(img)

        for noscript in doc.get_elements_by_tag_name("noscript"):
            div = new_element("div")
            div.set_inner_html(noscript.get_inner_html())
            if not self._is_single_image(div):
                continue
            prev_element = noscript.previous_element_sibling
            if prev_element is not None and self._is_single_image(prev_element):
                prev_img = prev_element
                if prev_img.tag_name != "IMG":
                    prev_img = prev_element.get_elements_by_tag_name("img")[0]
                new_img = div.get_elements_by_tag_name("img")[0]
                for name, value in list(prev_img.attributes):
                    if value == "":
                        continue
                    if name in ("src", "srcset") or rx.IMG_EXTENSIONS.search(value):
                        if new_img.get_attribute(name) == value:
                            continue
                        attr_name = name
                        if new_img.has_attribute(attr_name):
                            attr_name = "data-old-" + attr_name
                        new_img.set_attribute(attr_name, value)
                noscript.parent_node.replace_child(div.first_element_child(), prev_element)

    def _remove_scripts(self, doc: Node) -> None:
        self._remove_nodes(self._get_all_nodes_with_tag(doc, "script", "noscript"), None)

    # -- structural predicates (readability.go:1633-1671) -----------------------------

    def _has_single_tag_inside_element(self, element: Node, tag: str) -> bool:
        if len(element.children) != 1 or element.children[0].tag_name != tag:
            return False
        return not any(
            n.node_type == TEXT_NODE and rx.HAS_CONTENT.search(n.get_text_content())
            for n in element.child_nodes
        )

    @staticmethod
    def _is_blank(s: str) -> bool:
        # == len(s.strip()) == 0, without the O(n) stripped copy
        return not s or s.isspace()

    def _is_element_without_content(self, n: Node) -> bool:
        # blankness probed piecewise (early exit) instead of building the
        # subtree string: exactly equivalent to _is_blank(textContent)
        if n.node_type != ELEMENT_NODE or not n.subtree_text_is_blank():
            return False
        k = len(n.children)
        if k == 0:
            return True
        # Quirk-faithful to readability.go:1646-1650, which compares the
        # DIRECT child count against the DESCENDANT br + hr counts (nested
        # br/hr can satisfy it) — but in ONE fused walk instead of two full
        # get_elements_by_tag_name scans, with an early exit once the
        # count exceeds k (it can never come back down).
        c = 0
        stack = n.children[::-1]
        while stack:
            child = stack.pop()
            if child.tag_name in ("BR", "HR"):
                c += 1
                if c > k:
                    return False
            if child.children:
                stack += child.children[::-1]
        return c == k

    def _has_child_block_element(self, element: Node) -> bool:
        # Iterative DFS (reference recurses via someNode,
        # readability.go:1653-1658); pure existence check, order-free
        stack = list(element.child_nodes)
        while stack:
            n = stack.pop()
            if n.tag_name in DIV_TO_P_ELEMS:
                return True
            stack.extend(n.child_nodes)
        return False

    def _is_phrasing_content(self, n: Node) -> bool:
        # Iterative form of readability.go:1662-1666: text/phrasing nodes
        # pass without descending; A/DEL/INS require every descendant
        # reached this way to pass; anything else fails
        stack = [n]
        while stack:
            m = stack.pop()
            if m.node_type == TEXT_NODE or m.tag_name in PHRASING_ELEMS:
                continue
            if m.tag_name not in ("A", "DEL", "INS"):
                return False
            stack.extend(m.child_nodes)
        return True

    def _is_whitespace(self, n: Node) -> bool:
        return (
            n.node_type == TEXT_NODE and self._is_blank(n.get_text_content())
        ) or (n.node_type == ELEMENT_NODE and n.tag_name == "BR")

    # -- text metrics (readability.go:1675-1733,1988-2000) ------------------------------

    def _get_inner_text(self, e: Node, normalize_spaces: bool) -> str:
        if normalize_spaces and e.node_type == ELEMENT_NODE:
            # the scoring loop re-normalizes the same unchanged subtrees
            # many times (link/text density, char counts); memoize the
            # normalized form behind the same dirty flag as the raw memo
            if not e._tc_dirty and e._norm_text is not None:
                return e._norm_text
            text = rx.NORMALIZE.sub(" ", e.get_text_content().strip())
            if not e._tc_dirty:  # get_text_content just validated the memo
                e._norm_text = text
            return text
        text = e.get_text_content().strip()
        if normalize_spaces:
            return rx.NORMALIZE.sub(" ", text)
        return text

    def _get_char_count(self, e: Node, s: str) -> int:
        return len(self._get_inner_text(e, True).split(s)) - 1

    def _clean_styles(self, e: Node | None) -> None:
        # Iterative pre-order (the reference recurses, readability.go:1707;
        # crawl pages nest thousands deep and Python's stack does not grow
        # like Go's — per-node work is order-independent so the walk order
        # is free).  An svg node prunes its whole subtree (early return in
        # the reference).
        if e is None:
            return
        stack = [e]
        while stack:
            node = stack.pop()
            if node.tag_name.lower() == "svg":
                continue
            attrs = node.attributes
            if attrs:
                drop = (
                    _PRESENTATIONAL_PLUS_SIZE
                    if node.tag_name in DEPRECATED_SIZE_ATTRIBUTE_ELEMS
                    else _PRESENTATIONAL_SET
                )
                kept = [a for a in attrs if a[0] not in drop]
                if len(kept) != len(attrs):
                    node.attributes = kept
            stack.extend(reversed(node.children))

    def _get_link_density(self, element: Node) -> float:
        text_length = len(self._get_inner_text(element, True))
        if text_length == 0:
            return 0.0
        link_length = 0.0
        for link_node in element.get_elements_by_tag_name("a"):
            href = link_node.get_attribute("href")
            coefficient = 0.3 if href and rx.HASH_URL.match(href) else 1.0
            link_length += len(self._get_inner_text(link_node, True)) * coefficient
        return link_length / text_length

    def _get_text_density(self, e: Node, *tags: str) -> float:
        text_length = len(self._get_inner_text(e, True))
        if text_length == 0:
            return 0.0
        children_length = sum(
            len(self._get_inner_text(child, True))
            for child in self._get_all_nodes_with_tag(e, *tags)
        )
        return children_length / text_length

    # -- cleaning (readability.go:1769-2137) -----------------------------------------

    def _clean(self, e: Node, tag: str) -> None:
        is_embed = tag in ("object", "embed", "iframe")

        def should_remove(element: Node) -> bool:
            if is_embed:
                for _, value in element.attributes:
                    if self.options.allowed_video_regex.search(value):
                        return False
                # NB: reference compares TagName (uppercase) to "object" --
                # intentionally preserved dead branch (readability.go:1784).
                if element.tag_name == "object" and self.options.allowed_video_regex.search(
                    element.get_inner_html()
                ):
                    return False
            return True

        self._remove_nodes(self._get_all_nodes_with_tag(e, tag), should_remove)

    def _has_ancestor_tag(self, n: Node, tag_name: str, max_depth: int, filter_fn) -> bool:
        tag_name = tag_name.upper()
        depth = 0
        while n.parent_node is not None:
            if max_depth > 0 and depth > max_depth:
                return False
            if n.parent_node.tag_name == tag_name and (
                filter_fn is None or filter_fn(n.parent_node)
            ):
                return True
            n = n.parent_node
            depth += 1
        return False

    def _get_row_and_column_count(self, table: Node) -> tuple[int, int]:
        rows = 0
        columns = 0
        for tr in table.get_elements_by_tag_name("tr"):
            rs = _go_atoi(tr.get_attribute("rowspan"))
            rows += rs if rs != 0 else 1
            columns_in_row = 0
            for cell in tr.get_elements_by_tag_name("td"):
                cs = _go_atoi(cell.get_attribute("colspan"))
                columns_in_row += cs if cs != 0 else 1
            columns = max(columns, columns_in_row)
        return rows, columns

    def _mark_data_tables(self, root: Node) -> None:
        for table in root.get_elements_by_tag_name("table"):
            if table.get_attribute("role") == "presentation":
                table.data_table = False
                continue
            if table.get_attribute("datatable") == "0":
                table.data_table = False
                continue
            if table.get_attribute("summary"):
                table.data_table = True
                continue
            captions = table.get_elements_by_tag_name("caption")
            if captions and captions[0].child_nodes:
                table.data_table = True
                # NB: no `continue` in the reference (readability.go:1881-1883);
                # later checks may overwrite -- preserved.

            if any(
                table.get_elements_by_tag_name(tag)
                for tag in ("col", "colgroup", "tfoot", "thead", "th")
            ):
                table.data_table = True
                continue

            if table.get_elements_by_tag_name("table"):
                table.data_table = False

            rows, columns = self._get_row_and_column_count(table)
            if rows >= 10 or columns > 4:
                table.data_table = True
                continue
            table.data_table = rows * columns > 10

    def _fix_lazy_images(self, root: Node) -> None:
        for elem in self._get_all_nodes_with_tag(root, "img", "picture", "figure"):
            src = elem.get_attribute("src")
            if src and rx.B64_DATA_URL.search(src):
                parts = rx.B64_DATA_URL.search(src)
                if parts.group(1) == "image/svg+xml":
                    continue
                src_could_be_removed = any(
                    name != "src" and rx.IMG_EXTENSIONS.search(value)
                    for name, value in elem.attributes
                )
                if src_could_be_removed:
                    b64_start = rx.BASE64_STARTS.search(src).start() + 7
                    if len(src) - b64_start < 133:
                        elem.remove_attribute("src")

            src = elem.get_attribute("src")
            srcset = elem.get_attribute("srcset")
            if (src or (srcset and srcset != "null")) and "lazy" not in elem.class_name.lower():
                continue

            for name, value in list(elem.attributes):
                if name in ("src", "srcset", "alt"):
                    continue
                copy_to = ""
                if rx.IMG_EXTENSIONS_WITH_SPACES_AND_NUM.search(value):
                    copy_to = "srcset"
                elif rx.IMG_EXTENSIONS_AMONG_TEXT.match(value):
                    copy_to = "src"
                if copy_to:
                    if elem.tag_name in ("IMG", "PICTURE"):
                        elem.set_attribute(copy_to, value)
                    elif elem.tag_name == "FIGURE" and not self._get_all_nodes_with_tag(
                        elem, "img", "picture"
                    ):
                        img = new_element("img")
                        img.set_attribute(copy_to, value)
                        elem.append_child(img)

    def _clean_conditionally(self, e: Node, tag: str) -> None:
        if not self._flag_is_active(FLAG_CLEAN_CONDITIONALLY):
            return

        def is_data_table(t: Node) -> bool:
            return t.data_table is True

        def should_remove(n: Node) -> bool:
            is_list = tag in ("ul", "ol")
            if not is_list:
                list_length = sum(
                    len(self._get_inner_text(lst, True))
                    for lst in self._get_all_nodes_with_tag(n, "ul", "ol")
                )
                total = len(self._get_inner_text(n, True))
                is_list = total > 0 and list_length / total > 0.9

            if tag == "table" and is_data_table(n):
                return False
            if self._has_ancestor_tag(n, "table", -1, is_data_table):
                return False
            if self._has_ancestor_tag(n, "code", 3, None):
                return False

            weight = self._get_class_weight(n)
            if weight < 0:
                return True

            if self._get_char_count(n, ",") < 10:
                counts = n.count_tags(("P", "IMG", "LI", "INPUT"))
                p = counts["P"]
                img = counts["IMG"]
                li = counts["LI"] - 100
                input_ = counts["INPUT"]
                heading_density = self._get_text_density(
                    n, "h1", "h2", "h3", "h4", "h5", "h6"
                )

                embed_count = 0
                embeds = self._get_all_nodes_with_tag(n, "object", "embed", "iframe")
                for embed in embeds:
                    for _, value in embed.attributes:
                        if self.options.allowed_video_regex.search(value):
                            return False
                    if embed.tag_name == "object" and self.options.allowed_video_regex.search(
                        embed.get_inner_html()
                    ):
                        return False
                    embed_count += 1

                link_density = self._get_link_density(n)
                content_length = len(self._get_inner_text(n, True))

                have_to_remove = (
                    (img > 1 and p / img < 0.5 and not self._has_ancestor_tag(n, "figure", 3, None))
                    or (not is_list and li > p)
                    or (input_ > math.floor(p / 3))
                    or (
                        not is_list
                        and heading_density < 0.9
                        and content_length < 25
                        and (img == 0 or img > 2)
                        and not self._has_ancestor_tag(n, "figure", 3, None)
                    )
                    or (not is_list and weight < 25 and link_density > 0.2)
                    or (weight >= 25 and link_density > 0.5)
                    or ((embed_count == 1 and content_length < 75) or embed_count > 1)
                )

                # Allow simple lists of images (readability.go:2095-2108).
                if is_list and have_to_remove:
                    for child in n.children:
                        if len(child.children) > 1:
                            return have_to_remove
                    li_count = len(n.get_elements_by_tag_name("li"))
                    if img == li_count:
                        return False
                return have_to_remove
            return False

        self._remove_nodes(self._get_all_nodes_with_tag(e, tag), should_remove)

    def _clean_matched_nodes(self, e: Node, filter_fn) -> None:
        end_of_search_marker = self._get_next_node(e, True)
        nxt = self._get_next_node(e, False)
        while nxt is not None and nxt is not end_of_search_marker:
            if filter_fn(nxt, nxt.class_name + " " + nxt.id):
                nxt = self._remove_and_get_next(nxt)
            else:
                nxt = self._get_next_node(nxt, False)

    def _clean_headers(self, n: Node) -> None:
        self._remove_nodes(
            self._get_all_nodes_with_tag(n, "h1", "h2"),
            lambda nn: self._get_class_weight(nn) < 0,
        )

    def _header_duplicates_title(self, n: Node) -> bool:
        if n.tag_name not in ("H1", "H2"):
            return False
        heading = self._get_inner_text(n, False)
        return self._text_similarity(self.article_title, heading) > 0.75

    # -- entry point (readability.go:2174-2240) ----------------------------------------

    def parse(self) -> Result:
        if self.doc.body is None:
            raise NoArticleError("cannot parse doc")
        if self.options.max_elems_to_parse > 0:
            num_tags = len(self.doc.get_elements_by_tag_name("*"))
            if num_tags > self.options.max_elems_to_parse:
                raise TooLargeError(f"aborting parsing document: elements_found={num_tags}")

        self._unwrap_noscript_images(self.doc)

        jsonld = None
        if not self.options.disable_jsonld:
            jsonld = self._get_jsonld(self.doc)

        self._remove_scripts(self.doc)
        self._prep_document()

        metadata = self._get_article_metadata(jsonld)
        self.article_title = metadata.title

        article_content = self._grab_article(None)
        if article_content is None:
            raise NoArticleError("cannot grab article")
        self._last_article = article_content

        self._post_process_content(article_content)

        if not metadata.excerpt:
            paragraphs = article_content.get_elements_by_tag_name("p")
            if paragraphs:
                metadata.excerpt = paragraphs[0].get_text_content().strip()

        # Pluggable serialization hooks (readability.go:2219-2226): a custom
        # serializer replaces GetInnerHTML; a custom html2text derives
        # text_content from the serialized HTML instead of the DOM walk.
        if self.options.serializer is not None:
            html_content = self.options.serializer(article_content)
        else:
            html_content = article_content.get_inner_html()
        if self.options.html2text is not None:
            text_content = self.options.html2text(html_content)
        else:
            text_content = article_content.get_text_content()

        return Result(
            title=self.article_title,
            byline=_any_of(metadata.byline, self.article_byline),
            dir=self.article_dir,
            lang=self.article_lang,
            html_content=html_content,
            text_content=text_content,
            length=len(text_content),
            excerpt=metadata.excerpt,
            site_name=_any_of(metadata.site_name, self.article_site_name),
            published_time=metadata.published_time,
        )


def parse_document(
    html_source: str, uri: str, options: Options | None = None, prescreen: bool = False
) -> tuple[Result | None, Node | None, str]:
    """Convenience wrapper: returns (result, article DOM, status).

    The one place a status is assigned: 'ok' | 'not_readerable' |
    'no_article' | 'too_large' | 'parse_error'.  ``prescreen``
    (readerable.go:20-27) runs the read-only readerable scan on the one
    DOM before parse() mutates it; its verdict wins over every other
    status, and a scan failure lets the full parse decide.  The article
    DOM is the post-processed content tree (the span codec's input): a
    fresh element never inserted into the document.  Before it returns,
    on every status, the document and every grab attempt it does not
    return are released (``dom.release``), so their nodes are freed now,
    not at the next full collection.
    """
    try:
        r = Readability(html_source, uri, options)
    except Exception:  # an empty source, or a parser failure
        return None, None, "not_readerable" if prescreen and not html_source else "parse_error"
    result: Result | None = None
    status = "ok"
    if prescreen:
        try:
            if not scan_readerable(r.doc, r.options):
                status = "not_readerable"
        except Exception:
            pass  # scan failure: let the full parse decide
    if status == "ok":
        try:
            result = r.parse()
        except TooLargeError:
            status = "too_large"
        except NoArticleError:
            status = "no_article"
        except Exception:
            status = "parse_error"
    article = r._last_article if result is not None else None
    for tree in (r.doc, r._last_article, *(a for a, _ in r.attempts)):
        if tree is not None and tree is not article:
            release(tree)
    return result, article, status
