"""Span codec: the interleaved text+media document representation.

The engine's corpus tables store each document as an ordered
``array<struct<kind, text, media_ref, offset>>`` (BASELINE.json
``input_hint``).  Two codecs live here:

**Input codec** (``html_to_spans`` / ``spans_to_html``): byte-preserving
decomposition of raw HTML.  Media-anchor opening tags (img / video / audio /
source / embed / iframe -- the media set the reference rewrites,
readability.go:376-378 plus the embed tags it allowlists,
readability.go:1769-1790) become media spans carrying their ``src`` as
``media_ref``; everything between is ``markup`` spans.  Concatenating span
text in offset order reproduces the original HTML byte-for-byte
(round-trip property, FIXTURES.md section 1).

**Output codec** (``dom_to_spans``): normalized document-order walk of a
final article DOM, emitting open/close markup spans with *sorted* attribute
serialization, whitespace-collapsed non-empty text spans, and media spans
anchored at their surviving DOM positions with absolutized ``media_ref``.
Span-sequence equality ``(kind, text, media_ref, order)`` over this encoding
subsumes the reference test's DOM comparison (readability_test.go:115-160:
node descriptor + attribute set + collapsed text, empty text skipped).
The engine walks the article DOM the kernel returns and never parses the
serialized article; ``html_fragment_to_normalized_spans`` is the string
entry point (a parse, then the same walk).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from ..kernel.dom import (
    CDATA_CONTENT_ELEMENTS,
    ELEMENT_NODE,
    Node,
    decode_html,
    parse_html,
)
from ..kernel.regexps import MULTIPLE_WHITESPACES

MEDIA_TAGS = ("img", "video", "audio", "source", "embed", "iframe")

# Start-tag tokenization borrows html.parser's OWN compiled patterns —
# the codec's classification contract is "a media span exactly where the
# kernel's tokenizer emits a media start-tag token", and the kernel IS
# html.parser, so any hand-rolled approximation (r4's quote-aware
# _TAG_BODY regex) eventually diverges on attr soup the tolerant
# grammar resolves differently (fabricated media spans on inputs
# check_for_whole_start_tag rejects — r4 late-round review finding).
from html.parser import (  # noqa: E402
    attrfind_tolerant as _ATTRFIND,
    locatestarttagend_tolerant as _LOCATE_START,
    tagfind_tolerant as _TAGFIND,
)

# identical to the DOM parser's set_cdata_mode close pattern
_CDATA_CLOSE_RES = {
    elem: re.compile(rf"</\s*{elem}\s*>", re.IGNORECASE)
    for elem in CDATA_CONTENT_ELEMENTS
}
# comment close per the DOM parser (_markupbase): '--' + optional ws + '>'
_COMMENT_CLOSE_RE = re.compile(r"--\s*>")
# check_for_whole_start_tag's incomplete-input indicator set
_INCOMPLETE_NEXT = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ=/"
)


@dataclass(frozen=True)
class Span:
    kind: str
    text: str
    media_ref: str
    offset: int

    def as_tuple(self) -> tuple[str, str, str, int]:
        return (self.kind, self.text, self.media_ref, self.offset)

    def as_row(self) -> dict:
        return {
            "kind": self.kind,
            "text": self.text,
            "media_ref": self.media_ref,
            "offset": self.offset,
        }


# marked-section closers, identical to _markupbase.parse_marked_section:
# ]]> for CDATA-family sections, ]> for MS conditionals (if/else/endif)
_MARKED_CLOSE_RE = re.compile(r"]\s*]\s*>")
_MS_MARKED_CLOSE_RE = re.compile(r"]\s*>")
_DECLNAME_MATCH = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*").match


def _recover(html: str, j: int) -> int:
    """goahead's close()-time recovery for any construct whose parse_*
    returned -1 (unterminated comment / marked section / PI / decl /
    truncated start or end tag): the region up to AND INCLUDING the next
    ``>`` (else up to — not including — the next ``<``, else one char)
    becomes data, and tokenizing RESUMES there.  The whole document is
    one feed() + close() in this engine, so the recovery branch is
    always the live one — r4's 'tail is never tokenized' model was
    wrong for every one of these constructs (media tags after an
    unterminated comment ARE emitted by the DOM parse)."""
    g = html.find(">", j + 1)
    if g >= 0:
        return g + 1
    g = html.find("<", j + 1)
    return g if g >= 0 else j + 1


def _start_tag_token(
    html: str, j: int
) -> tuple[int, str | None, list[tuple[str, str | None]] | None, bool]:
    """Mirror check_for_whole_start_tag + parse_starttag at ``j`` (where
    ``html[j] == '<'`` and ``html[j+1]`` is a letter), under close()-time
    semantics.  Returns ``(resume, tag, attrs, is_startend)``:

    - token emitted: ``(endpos, tagname, attrs, startend)`` — the token's
      byte extent is [j, endpos);
    - malformed start tag (junk the tolerant attr grammar leaves before
      the closing '>', or a next-char outside check_for_whole_start_tag's
      incomplete set): ``(resume, None, None, False)`` — the region is
      DATA, no token, tokenizing resumes at ``resume``;
    - incomplete at end of input: recovery per ``_recover``.
    """
    m = _LOCATE_START.match(html, j)
    k = m.end()
    nxt = html[k : k + 1]
    if nxt == ">":
        endpos = k + 1
    elif nxt == "/" and html.startswith("/>", k):
        endpos = k + 2
    elif nxt == "" or nxt in _INCOMPLETE_NEXT:
        # check_for_whole_start_tag → -1: incomplete at EOF ('/' not
        # followed by '>' lands here too); close() recovery
        return _recover(html, j), None, None, False
    else:
        # "if j > i: return j" — parse_starttag then fails its end check
        # and emits handle_data(rawdata[i:j]); resume AT j, no token
        return k, None, None, False
    tm = _TAGFIND.match(html, j + 1)
    tag = tm.group(1).lower()
    # classification fast-out: for a tag that is neither media (by LOCAL
    # name) nor raw-text-mode (by RAW token name), an emitted token and
    # parse_starttag's junk-data fallback are indistinguishable to the
    # span walk — both resume at endpos and emit nothing — so the attr
    # loop + end check are skipped (restores the pre-rework walk speed;
    # the full fidelity path runs only where it can change the output)
    local = tag.rsplit(":", 1)[-1] if ":" in tag else tag
    if local not in MEDIA_TAGS and tag not in _CDATA_CLOSE_RES:
        return endpos, None, None, False
    p = tm.end()
    attrs: list[tuple[str, str | None]] = []
    while p < endpos:
        am = _ATTRFIND.match(html, p)
        if not am:
            break
        name, rest, value = am.group(1, 2, 3)
        if not rest:
            value = None
        elif value[:1] == "'" == value[-1:] or value[:1] == '"' == value[-1:]:
            value = value[1:-1]
        if value and "&" in value:
            from html import unescape

            value = unescape(value)
        attrs.append((name.lower(), value))
        p = am.end()
    end = html[p:endpos].strip()
    if end not in (">", "/>"):
        # parse_starttag's own fallback: the WHOLE extent is data
        return endpos, None, None, False
    return endpos, tag, attrs, end.endswith("/>")


def _src_of(attrs: list[tuple[str, str | None]]) -> str:
    """``src`` as the DOM stores it: last value wins on duplicates and a
    VALUELESS ``src`` overwrites with '' (set_attribute normalizes None —
    <img src=a.png src> stores ''), matching domparser.go:762-770's
    first-position last-value-wins."""
    src = ""
    for name, value in attrs:
        if name == "src":
            src = value if value is not None else ""
    return src


def html_to_spans(html: str) -> list[Span]:
    """Decompose raw HTML into interleaved markup/media spans
    (byte-preserving) via a forward CONSTRUCT walk mirroring the DOM
    tokenizer: a media tag becomes a media span only where the parser
    would actually emit a start-tag token.  Media-looking text inside a
    comment, raw-text (CDATA) element content, a marked section
    (``<![CDATA[…]]>``), a processing instruction, a declaration, an end
    tag's extent, or ANOTHER TAG'S quoted attribute value
    (``<p title="<img src=x>">``) stays markup — the DOM never sees an
    element there, so classifying it would fabricate a media_ref no
    parse ever emits (ADVICE r3/r4 class).  Start-tag extents, the
    malformed-tag data fallback, and close()-time recovery (tokenizing
    RESUMES after an unterminated construct's next ``>``) all mirror
    html.parser's own logic via its own compiled patterns, so the media
    spans of any parseable document EQUAL the DOM's media-element
    sequence — pinned by tests/test_codec.py's differential invariant.
    Raw-text content inside ``<script>`` IS tokenized (the reference
    opts script out of raw-text mode, domparser.go:1102-1104), so media
    tags there classify — matching the DOM's own quirk."""
    spans: list[Span] = []
    out_pos = 0
    offset = 0

    def emit_markup(upto: int) -> None:
        nonlocal out_pos, offset
        if upto > out_pos:
            spans.append(Span("markup", html[out_pos:upto], "", offset))
            offset += 1
            out_pos = upto

    def skip_cdata_content(elem: str, from_i: int) -> int:
        em = _CDATA_CLOSE_RES[elem].search(html, from_i)
        # unterminated raw text swallows the tail (goahead parks in
        # cdata mode and never emits it)
        return em.end() if em else len(html)

    i, n = 0, len(html)
    while i < n:
        j = html.find("<", i)
        if j < 0:
            break
        c = html[j + 1 : j + 2]
        if ("a" <= c <= "z") or ("A" <= c <= "Z"):
            resume, tag, attrs, startend = _start_tag_token(html, j)
            if tag is None:
                i = resume  # data region (malformed/incomplete); no token
                continue
            # element identity is the LOCAL name (new_element splits
            # namespace prefixes: <a0:img src=…> IS an img in the DOM,
            # domparser.go:722-740); cdata-mode routing keys on the RAW
            # token name like parse_starttag's CDATA_CONTENT_ELEMENTS test
            local = tag.rsplit(":", 1)[-1] if ":" in tag else tag
            if local in MEDIA_TAGS:
                emit_markup(j)
                spans.append(Span(local, html[j:resume], _src_of(attrs), offset))
                offset += 1
                out_pos = resume
            i = resume
            if tag in _CDATA_CLOSE_RES and not startend:
                i = skip_cdata_content(tag, i)  # e.g. iframe raw text
        elif c == "/":
            # endtagfind / cdata-miss / bogus-comment: all resume after
            # the next '>' (the tagfind re-search can't skip one — its
            # name class excludes '>'); none emit start-tag tokens
            g = html.find(">", j)
            i = g + 1 if g >= 0 else _recover(html, j)
        elif c == "!":
            if html.startswith("<!--", j):
                cmm = _COMMENT_CLOSE_RE.search(html, j + 4)
                i = cmm.end() if cmm else _recover(html, j)
            elif html.startswith("<![", j):
                # _markupbase.parse_marked_section: content is
                # unknown_decl, never elements; the closer depends on the
                # section name (MS conditionals close at ]>, the rest at
                # ]]>; a nameless <![ is a stock-parser parse error —
                # coarse ]]> extent is fine for classification there)
                nm = _DECLNAME_MATCH(html, j + 3)
                sect = nm.group().strip().lower() if nm else ""
                closer = (
                    _MS_MARKED_CLOSE_RE
                    if sect in ("if", "else", "endif")
                    else _MARKED_CLOSE_RE
                )
                m = closer.search(html, j + 3)
                i = m.end() if m else _recover(html, j)
            else:
                # doctype / bogus declaration: to the next '>' (tolerant
                # HTMLParser does plain find — no quote/subset awareness)
                g = html.find(">", j)
                i = g + 1 if g >= 0 else _recover(html, j)
        elif c == "?":
            g = html.find(">", j)  # parse_pi ends at '>'
            i = g + 1 if g >= 0 else _recover(html, j)
        else:
            i = j + 1  # literal '<' data
    emit_markup(n)
    return spans


def spans_to_html(spans: list[Span]) -> str:
    """Reassemble a document from ordered spans (inverse of html_to_spans)."""
    return "".join(s.text for s in sorted(spans, key=lambda s: s.offset))


def _open_tag_repr(n: Node) -> str:
    attrs = sorted((name, value) for name, value in n.attributes)
    inner = "".join(f' {name}="{value}"' for name, value in attrs)
    return f"<{n.local_name}{inner}>"


def _serializes_empty(n: Node) -> bool:
    """True iff ``n``'s children serialize to nothing: the reparse would
    hold ``n`` with no children (e.g. an element whose only child is a
    doctype)."""
    stack = list(n.child_nodes)
    while stack:
        c = stack.pop()
        if c.node_type != ELEMENT_NODE:
            if c.get_inner_html():  # a text node's serialized form; a doctype's is ""
                return False
        elif c.local_name:
            return False
        else:
            stack.extend(c.child_nodes)
    return True


def dom_to_spans(container: Node) -> list[Span]:
    """Normalized output-span encoding of a (sub)tree's children.

    Normalization matches the reference test harness: whitespace collapsed
    (htmlTransform, readability_test.go:281-283), whitespace-only text nodes
    skipped (readability_test.go:252-258), attribute *sets* compared
    (readability_test.go:134-151) via sorted serialization.

    Run on the live article, it emits what the reference's reparse of
    the serialized article (readability_test.go:113-114) would hold: a
    maximal run of sibling non-element nodes (through doctypes and
    empty-named ``<a:>`` elements, which serialize no tag) is ONE text
    span decoded from its serialized form (the reparse's double decode,
    ``&amp;#65;`` -> ``A``), and an element whose children serialize to
    nothing is childless.  Where the serialized article would not parse
    back into the article's tree (text that reads as markup, ``<`` + a
    letter, ``/``, ``!`` or ``?``), it emits what the article holds.
    """
    spans: list[Span] = []
    run: list[str] = []

    def emit(kind: str, text: str, media_ref: str = "") -> None:
        spans.append(Span(kind, text, media_ref, len(spans)))

    def flush_run() -> None:
        if run:
            text = MULTIPLE_WHITESPACES.sub(" ", decode_html("".join(run))).strip()
            run.clear()
            if text:
                emit("text", text)

    stack: list[object] = list(reversed(container.child_nodes))
    while stack:
        item = stack.pop()
        if isinstance(item, str):
            flush_run()
            emit("markup", item)
            continue
        n = item
        if n.node_type != ELEMENT_NODE:
            run.append(n.get_inner_html())
            continue
        local = n.local_name
        if not local:
            stack.extend(reversed(n.child_nodes))
            continue
        flush_run()
        media = local in MEDIA_TAGS
        if media:
            emit(local, _open_tag_repr(n), n.get_attribute("src"))
        else:
            emit("markup", _open_tag_repr(n))
        if not media or not _serializes_empty(n):
            stack.append(f"</{local}>")
            stack.extend(reversed(n.child_nodes))
    flush_run()
    return spans


def html_fragment_to_normalized_spans(html: str) -> list[Span]:
    """Parse an HTML fragment with the kernel DOM and emit normalized spans.

    The string entry point: golden's expected.html side, and the
    serialize+reparse reference the article walk is tested against.
    """
    return dom_to_spans(parse_html(html, ""))
