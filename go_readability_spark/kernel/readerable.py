"""Cheap is-this-an-article pre-check (reference: readerable.go:33-103).

Used corpus-side as an inexpensive pre-filter before the full extraction
kernel, and verified per-fixture against the golden metadata's
``readerable`` flag.

Fidelity notes: the reference's ``isNodeVisible`` style checks are inert
(arguments to strings.Split are reversed and the separator is '=' not ':',
readerable.go:36-37), so only the ``hidden``/``aria-hidden`` attribute
checks filter -- reproduced here.  The reference parses with a spec-level
HTML5 parser (x/net/html), so besides implied-tag recovery it decodes the
FULL HTML5 entity table before measuring text -- the kernel DOM's lazy
XML-subset decode (a JSDOMParser quirk the extraction path must keep)
would count ``&nbsp;`` as 6 bytes instead of 2 near the 140-byte
threshold, so the scorer walks raw text spellings and decodes them once
with ``html.unescape`` (``_node_text_html5``).
"""

from __future__ import annotations

import math
from html import unescape as _unescape_html

from . import regexps as rx
from .dom import TEXT_NODE, Node, parse_html
from .options import Options


def _node_text_html5(n: Node) -> str:
    """Subtree text as x/net/html would produce it: each text node's RAW
    entity spelling decoded exactly once with the full HTML5 table
    (readerable.go:94 measures post-parse text from that parser)."""

    def decode(t: Node) -> str:
        raw = t._inner_html
        if raw is None:
            return t._text_content or ""
        return _unescape_html(raw) if "&" in raw else raw

    if n.node_type == TEXT_NODE:
        return decode(n)
    parts: list[str] = []
    stack = list(reversed(n.child_nodes))
    while stack:
        c = stack.pop()
        if c.node_type == TEXT_NODE:
            parts.append(decode(c))
        elif c.child_nodes:
            stack.extend(reversed(c.child_nodes))
    return "".join(parts)


def _is_node_visible(node: Node) -> bool:
    if node.get_attribute("hidden"):
        return False
    aria = node.get_attribute("aria-hidden")
    if aria and aria == "true" and "fallback-image" not in node.get_attribute("class"):
        return False
    return True


def _has_li_p(node: Node) -> bool:
    """cascadia Query(n, "li p") semantics: any p strictly *below* node (the
    node itself is not a candidate) whose ancestor chain -- evaluated in the
    full document, not just node's subtree -- contains an li
    (readerable.go:90-92, util.go:46-52)."""
    for p in node.get_elements_by_tag_name("p"):
        anc = p.parent_node
        while anc is not None:
            if anc.tag_name == "LI":
                return True
            anc = anc.parent_node
    return False


def is_probably_readerable(html_source: str, options: Options | None = None) -> bool:
    return scan_readerable(parse_html(html_source, ""), options)


def scan_readerable(doc: Node, options: Options | None = None) -> bool:
    """The verdict over a built DOM; read-only, so it can precede parse()."""
    opts = options or Options()

    # Document-order p/pre/article scan plus parents of div > br
    # (readerable.go:59-74).
    nodes: list[Node] = []
    stack = list(reversed(doc.children))
    while stack:
        n = stack.pop()
        if n.local_name in ("p", "pre", "article"):
            nodes.append(n)
        stack.extend(reversed(n.children))

    br_parents: list[Node] = []
    stack = list(reversed(doc.children))
    while stack:
        n = stack.pop()
        if n.local_name == "br" and n.parent_node is not None and (
            n.parent_node.local_name == "div"
        ):
            br_parents.append(n.parent_node)
        stack.extend(reversed(n.children))
    nodes.extend(br_parents)

    # pluggable visibility hook (readerable.go:46,80; default isNodeVisible)
    visible = opts.visibility_checker or _is_node_visible
    score = 0.0
    for n in nodes:
        if not visible(n):
            continue
        match_string = n.get_attribute("class") + " " + n.get_attribute("id")
        if rx.UNLIKELY_CANDIDATES.search(match_string) and not (
            rx.OK_MAYBE_ITS_A_CANDIDATE.search(match_string)
        ):
            continue
        if _has_li_p(n):
            continue
        # Go len(string) counts UTF-8 BYTES (readerable.go:94), not code
        # points — matters for non-ASCII text near the 140-char threshold;
        # and the reference's parser decodes ALL entities first (module
        # docstring), hence the html5 text walk instead of get_text_content.
        text_content_length = len(_node_text_html5(n).strip().encode("utf-8"))
        if text_content_length < opts.min_content_length:
            continue
        score += math.sqrt(text_content_length - opts.min_content_length)
        if score > opts.min_score:
            return True
    return False
