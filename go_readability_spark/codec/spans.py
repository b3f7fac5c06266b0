"""Span codec: the interleaved text+media document representation.

The engine's corpus tables store each document as an ordered
``array<struct<kind, text, media_ref, offset>>`` (BASELINE.json
``input_hint``).  Two codecs live here:

**Input codec** (``html_to_spans`` / ``spans_to_html``): byte-preserving
decomposition of raw HTML.  Media-anchor opening tags (img / video / audio /
source / embed / iframe -- the media set the reference rewrites,
readability.go:376-378 plus the embed tags it allowlists,
readability.go:1769-1790) become media spans carrying their ``src`` as
``media_ref``; everything between is ``markup`` spans.  The kernel's
tokenizer (``kernel.dom._scan``) decides what is a tag, so the codec has
no tokenizer of its own.  Concatenating span
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

from dataclasses import dataclass
from typing import Iterable, Iterator

from ..kernel.dom import (
    ELEMENT_NODE,
    Node,
    _DOMBuilder,
    _scan,
    decode_html,
    new_element,
    parse_html,
)
from ..kernel.regexps import MULTIPLE_WHITESPACES

MEDIA_TAGS = ("img", "video", "audio", "source", "embed", "iframe")


@dataclass(frozen=True)
class Span:
    kind: str
    text: str
    media_ref: str
    offset: int

    def __getitem__(self, field: str):
        """Read a field by name, as from a span row (``s["kind"]``)."""
        return getattr(self, field)

    def as_tuple(self) -> tuple[str, str, str, int]:
        return (self.kind, self.text, self.media_ref, self.offset)

    def as_row(self) -> dict:
        return {
            "kind": self.kind,
            "text": self.text,
            "media_ref": self.media_ref,
            "offset": self.offset,
        }


class SpanColumns:
    """One document's spans as four parallel columns, the layout of the
    ``spans`` struct's fields: what the codecs fill and what
    ``session.emit_frames`` writes, with no per-span object.  It reads
    as a sequence of ``Span``s (``len``, iteration, indexing), each built
    on demand."""

    __slots__ = ("kind", "text", "media_ref", "offset")

    def __init__(self) -> None:
        self.kind: list[str] = []
        self.text: list[str] = []
        self.media_ref: list[str] = []
        self.offset: list[int] = []

    def append(self, kind: str, text: str, media_ref: str, offset: int) -> None:
        self.kind.append(kind)
        self.text.append(text)
        self.media_ref.append(media_ref)
        self.offset.append(offset)

    def __len__(self) -> int:
        return len(self.kind)

    def __iter__(self) -> Iterator[Span]:
        return map(Span, self.kind, self.text, self.media_ref, self.offset)

    def __getitem__(self, i: int) -> Span:
        return Span(self.kind[i], self.text[i], self.media_ref[i], self.offset[i])


class _MediaSpans:
    """``_scan`` consumer: a media span over each media start-tag token's
    extent, byte-preserving markup spans between them."""

    def __init__(self, html: str) -> None:
        self.html = html
        self.spans = SpanColumns()
        self.out = 0  # end of the last emitted span

    def markup(self, upto: int) -> None:
        if upto > self.out:
            spans = self.spans
            spans.append("markup", self.html[self.out : upto], "", len(spans))
            self.out = upto

    def handle_starttag(self, tag: str, attrs: list, start: int, end: int) -> None:
        # element identity is the LOCAL name (<a0:img src=…> IS an img in
        # the DOM, domparser.go:722-740); src is the value the element
        # stores (the builder's last-value-wins attribute rule)
        if tag[tag.rfind(":") + 1 :] in MEDIA_TAGS:
            node = new_element(tag)
            _DOMBuilder._build_attrs(node, attrs)
            self.markup(start)
            spans = self.spans
            spans.append(node.local_name, self.html[start:end], node.get_attribute("src"), len(spans))
            self.out = end

    handle_startendtag = handle_starttag

    def _ignore(self, *_) -> None:
        pass

    handle_data = handle_endtag = handle_comment = handle_pi = handle_decl = unknown_decl = _ignore


def html_to_spans(html: str) -> SpanColumns:
    """Decompose raw HTML into interleaved markup/media spans
    (byte-preserving), classified by the kernel's own tokenizer: a media
    tag becomes a media span exactly where the DOM parser emits a media
    start-tag token, so the media spans EQUAL the DOM's media-element
    sequence (pinned by tests/test_codec.py's differential invariant).
    Media-looking text inside a comment, raw-text element content, a
    marked section, a processing instruction, a declaration, an end tag or
    another tag's attribute value stays markup.  Where the tokenizer
    raises (a malformed marked section the kernel reports as
    ``parse_error``), the rest of the document is one markup span.  Never
    raises."""
    consumer = _MediaSpans(html)
    try:
        _scan(html, consumer)
    except AssertionError:
        pass
    consumer.markup(len(html))
    return consumer.spans


def spans_to_html(spans: Iterable[Span]) -> str:
    """Reassemble a document from ordered spans (inverse of html_to_spans)."""
    return "".join(s.text for s in sorted(spans, key=lambda s: s.offset))


def _open_tag_repr(n: Node) -> str:
    if not n.attributes:
        return f"<{n.local_name}>"
    inner = "".join(f' {name}="{value}"' for name, value in sorted(n.attributes))
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


def dom_to_spans(container: Node) -> SpanColumns:
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
    spans = SpanColumns()
    run: list[str] = []

    def emit(kind: str, text: str, media_ref: str = "") -> None:
        spans.append(kind, text, media_ref, len(spans))

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


def html_fragment_to_normalized_spans(html: str) -> SpanColumns:
    """Parse an HTML fragment with the kernel DOM and emit normalized spans.

    The string entry point: golden's expected.html side, and the
    serialize+reparse reference the article walk is tested against.
    """
    return dom_to_spans(parse_html(html, ""))
