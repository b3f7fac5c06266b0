"""Minimal PDF text-layer extraction (stdlib-only).

The north rule's extraction surface includes "PDF/layout parse" alongside
HTML boilerplate stripping.  This module handles the common simple case
end-to-end with no third-party dependency: uncompressed or FlateDecode
content streams, BT..ET text blocks, ``Tj`` / ``'`` / ``"`` / ``TJ``
show-text operators over both literal ``(...)`` strings (with PDF
escapes) and hex ``<...>`` strings, page-ordered.  PDF syntax is read by
ONE lexer (``_lex``, PDF 32000 §7.2-7.3) in one left-to-right pass; the
content-stream interpreter, the ToUnicode CMap parser, the CMap-resource
test and the dictionary delimiter matcher all walk its tokens.

CID-keyed (Type0/Identity-H) text — the common real-crawl case — is
handled two ways.  When the file carries a usable cross-reference
structure, fonts are resolved PER PAGE (``/Resources`` → ``/Font`` →
``/ToUnicode``, inherited down the page tree per PDF 32000 §7.7.3.4)
and ``Tf`` operators select the active font, so several fonts reusing
the same CID space with different ToUnicode maps each decode through
their own CMap (§9.10.3; destinations are UTF-16BE).  Without usable
structure, the fallback is the single-consistent-CMap envelope: the
document's CMap streams merge, and documents whose CMaps conflict fall
back to the 1-byte latin-1 interpretation.  Encrypted files, and
conflicting CMaps in a file without usable structure, stay out of scope.

Object-stream PDFs (the common PDF 1.5+ real-crawl class) are parsed
structurally: cross-reference tables AND cross-reference streams
(PDF 32000 §7.5.4/§7.5.8, incl. /Prev chains, hybrid /XRefStm, and PNG
predictors on the stream data) locate objects, ``/Type /ObjStm`` object
streams (§7.5.7) are unpacked for the catalog/page dictionaries packed
inside them, and the page tree is walked so ``/Contents`` streams extract
in TRUE PAGE ORDER.  When no usable structure exists (fixture-grade or
damaged files) the extractor falls back to scanning every top-level
stream in physical order, the previous behavior.

Layout model: one output line per show-text operator (``Tj``, ``'``,
``"``, ``TJ``) inside a ``BT`` text block, pages in page-tree order
(physical stream order under the fallback).  ``Tf`` selects the font
for the operators after it, across text blocks; ``q``/``Q`` save and
restore that selection with the rest of the graphics state (§8.4.2).
This mirrors how the HTML side treats the DOM's document order as layout
order.
"""

from __future__ import annotations

import functools
import re
import zlib
from typing import Callable, Iterator

_STREAM_START_RE = re.compile(rb">>\s*stream\r?\n")

# -- Lexer (PDF 32000 §7.2-7.3) -----------------------------------------------
_REGULAR = rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]"  # §7.2.2: not white-space/delimiter
_TOKEN_RE = re.compile(
    rb"[\x00\t\n\x0c\r ]+|%[^\r\n]*"  # white-space and comments: skipped
    rb"|/(" + _REGULAR + rb"*)"  # 1 name, without its '/'
    rb"|<([0-9A-Fa-f\s]*)>"  # 2 hex string, without its '<' '>'
    rb"|(<<|>>|[\[\]{}])"  # 3 delimiter
    rb"|(\()"  # 4 literal string: nesting needs the scan in _lex
    rb"|([-+.0-9]" + _REGULAR + rb"*)"  # 5 number
    rb"|(" + _REGULAR + rb"+)"  # 6 operator or other keyword
    rb"|.",  # stray ')' '<' '>': skipped
    re.DOTALL,
)
_NAME, _HEX, _DELIM, _LIT, _NUM, _OP = 1, 2, 3, 4, 5, 6
_ARRAY = 7  # grouped by _objects, never produced by _lex
_LIT_STOP_RE = re.compile(rb"[()\\]")
# ``obj`` / ``endobj`` as keywords: not part of a longer token or a name
_OBJ_KEYWORD_RE = re.compile(rb"(?<!/)(?<!" + _REGULAR + rb")(?:end)?obj(?!" + _REGULAR + rb")")


def _lex(buf: bytes, pos: int = 0) -> Iterator[tuple[int, bytes, int]]:
    """(kind, value, end offset) per token from ``pos`` on.  A literal
    string's value is its raw bytes between the outer parentheses (escapes
    kept): parentheses nest unless escaped (§7.3.4.2), and an unterminated
    literal runs to the end of ``buf``."""
    match, stop, n = _TOKEN_RE.match, _LIT_STOP_RE.search, len(buf)
    while pos < n:
        m = match(buf, pos)
        kind, pos = m.lastindex, m.end()
        if kind == _LIT:
            start, depth, end = pos, 1, n
            while depth:
                s = stop(buf, pos)
                if s is None:
                    pos = n
                    break
                pos = s.end()
                c = buf[s.start()]
                if c == 0x5C:  # backslash: the next byte is escaped
                    pos += 1
                elif c == 0x28:
                    depth += 1
                else:
                    depth -= 1
            else:
                end = pos - 1
            yield _LIT, buf[start:end], pos
        elif kind:
            yield kind, m.group(kind), pos


def _objects(buf: bytes) -> Iterator[tuple[int, object]]:
    """(kind, value) per token with arrays grouped: ``[…]`` arrives as one
    (_ARRAY, [(kind, value), …]).  An operator cannot sit inside an
    array, so one drops any array still open and arrives on its own."""
    arrays: list[list[tuple[int, object]]] = []
    for kind, tok, _ in _lex(buf):
        if kind == _DELIM:
            if tok == b"[":
                arrays.append([])
            elif tok == b"]" and arrays:
                item = (_ARRAY, arrays.pop())
                if arrays:
                    arrays[-1].append(item)
                else:
                    yield item
        elif kind == _OP:
            arrays.clear()
            yield kind, tok
        elif arrays:
            arrays[-1].append((kind, tok))
        else:
            yield kind, tok


_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}
# \ddd is 1-3 OCTAL digits (\8, \9 are not octal: the backslash drops);
# \<EOL> is a line continuation (§7.3.4.2): backslash AND EOL drop, \r\n
# being one EOL; a backslash before any other byte drops
_ESCAPE_RE = re.compile(rb"\\(?:([0-7]{1,3})|\r\n|[\r\n]|(.))", re.DOTALL)


def _unescape_bytes(raw: bytes) -> bytes:
    """Literal-string payload → bytes, PDF escapes resolved."""
    if b"\\" not in raw:
        return raw

    def sub(m: re.Match) -> bytes:
        if m.group(1):
            return bytes([int(m.group(1), 8) & 0xFF])
        c = m.group(2)
        return _ESCAPES.get(c, c) if c else b""

    return _ESCAPE_RE.sub(sub, raw)


def _hex_bytes(raw: bytes) -> bytes:
    """Hex-string payload → bytes (whitespace ignored, odd trailing digit
    padded with 0 per the PDF spec §7.3.4.3)."""
    digits = re.sub(rb"\s+", b"", raw)
    if len(digits) % 2:
        digits += b"0"
    try:
        return bytes.fromhex(digits.decode("ascii"))
    except ValueError:
        return b""


# -- ToUnicode CMap (PDF 32000 §9.10.3) ---------------------------------------
_MAX_BFRANGE = 1 << 16  # CID space bound: reject absurd ranges in garbage


def _utf16(code: bytes) -> str:
    return code.decode("utf-16-be", errors="ignore")


def parse_tounicode_cmap(data: bytes) -> dict[int, str]:
    """bfchar/bfrange sections → {char code → unicode str} (destinations
    are UTF-16BE per §9.10.3; undecodable destinations are skipped).
    bfrange entries are ``<lo> <hi> <dstStart>`` (incrementing) or
    ``<lo> <hi> [<dst> …]`` (one destination per code); bfrange sections
    apply after every bfchar section.  Other keywords inside a section
    are ignored."""
    cmap: dict[int, str] = {}
    ranges: list[list[tuple[int, object]]] = []
    section, operands = b"", []
    for kind, val in _objects(data):
        if kind != _OP:
            operands.append((kind, val))
        elif val in (b"beginbfchar", b"beginbfrange"):
            section, operands = val, []
        elif val == b"endbfchar" and section == b"beginbfchar":
            hexes = [_hex_bytes(v) for k, v in operands if k == _HEX]
            for src, dst in zip(hexes[0::2], hexes[1::2]):
                if src:
                    cmap[int.from_bytes(src, "big")] = _utf16(dst)
            section = b""
        elif val == b"endbfrange" and section == b"beginbfrange":
            ranges.append(operands)
            section = b""
    for ops in ranges:
        i = 0
        while i + 2 < len(ops):
            (k1, lo), (k2, hi), (k3, dst) = ops[i : i + 3]
            if k1 != _HEX or k2 != _HEX or k3 not in (_HEX, _ARRAY):
                i += 1
                continue
            i += 3
            lo = int.from_bytes(_hex_bytes(lo), "big")
            hi = int.from_bytes(_hex_bytes(hi), "big")
            if hi - lo >= _MAX_BFRANGE:
                continue
            if k3 == _ARRAY:
                dsts = [_hex_bytes(v) for k, v in dst if k == _HEX]
            else:  # destinations count up from dstStart, within its width
                first = _hex_bytes(dst)
                base, width = int.from_bytes(first, "big"), max(len(first), 2)
                top = min(hi - lo + 1, (1 << 8 * width) - base) if first else 0
                dsts = [(base + k).to_bytes(width, "big") for k in range(top)]
            for k, d in enumerate(dsts[: max(hi - lo + 1, 0)]):
                cmap[lo + k] = _utf16(d)
    return cmap


def _is_cmap_resource(s: bytes) -> bool:
    """A standalone ToUnicode CMap stream: carries bfchar/bfrange
    sections and NO ``BT`` operator.  Page content quoting the literal
    text 'beginbfchar' inside a Tj string has text blocks, so it is
    neither skipped as a resource nor merged into the document CMap."""
    return (b"beginbfchar" in s or b"beginbfrange" in s) and not any(
        kind == _OP and tok == b"BT" for kind, tok, _ in _lex(s)
    )


def _document_cmap(streams: list[bytes]) -> dict[int, str] | None:
    """The document's merged ToUnicode map, or None when out of envelope:
    no CMap streams at all, or several CMaps that disagree on a code
    (distinct fonts reusing the same CID space — needs per-font resource
    resolution, which a file without usable structure cannot give)."""
    merged: dict[int, str] | None = None
    for s in streams:
        if not _is_cmap_resource(s):
            continue
        part = parse_tounicode_cmap(s)
        if not part:
            continue
        if merged is None:
            merged = dict(part)
            continue
        for k, v in part.items():
            if merged.setdefault(k, v) != v:
                return None  # conflicting CMaps: out of envelope
    return merged


def page_pieces_from_lines(lines: list[str]) -> list[str]:
    """Text-layer lines → the <p>-scaffold page pieces both ingest paths
    share (spark.corpus._spans builds spans from the pieces, the CLI
    joins them).  Lines are HTML-escaped: PDF text is data, not markup —
    '<', '>', '&' in a line (e.g. "a < b", "AT&T") must survive the kernel
    parse verbatim instead of being read as tags."""
    from html import escape

    return ["<html><body>", *(f"<p>{escape(line)}</p>" for line in lines), "</body></html>"]


# A FlateDecode stream inflates to at most this many bytes; one that would
# inflate further is treated as corrupt.  It equals the engine's Arrow
# batch byte cap (spark/session.py ARROW_MAX_BYTES): no longer text fits a
# batch anyway, and the largest stream in the crawl_archives PDFs of seeds
# 1-6 inflates to 204,148 bytes.  Uncapped, a 255 KiB PDF peaked at 532 MiB.
_INFLATE_LIMIT = 16 * 1024 * 1024
_INFLATE_CHUNK = 1 << 20


def _inflate(raw: bytes) -> bytes | None:
    """``raw`` zlib-inflated, or None when it is corrupt, truncated, or
    inflates past ``_INFLATE_LIMIT``.  Output is taken a chunk at a time,
    so an over-limit stream stops at the limit (one capped ``decompress``
    call peaks at twice it: its blocks, then their join)."""
    d = zlib.decompressobj()
    parts, size = [], 0
    try:
        while not d.eof:
            part = d.decompress(raw, _INFLATE_CHUNK)
            if not part:  # input exhausted before the end of the stream
                break
            size += len(part)
            if size > _INFLATE_LIMIT:
                return None
            parts.append(part)
            raw = d.unconsumed_tail
    except zlib.error:
        return None
    return b"".join(parts) if d.eof else None


def _content_streams(pdf: bytes) -> list[bytes]:
    """Every stream in physical order, flate-decoded when its head says
    so; the head is the stream's own dictionary, from the last ``obj`` or
    ``endobj`` keyword before it (or the first ``<<`` after the previous
    stream) to the ``>> stream`` keyword, so a filter named by an earlier
    object does not apply.  Each byte is scanned once: a regex asking
    for the same shape retries every ``<<`` up to the end of the file."""
    streams: list[bytes] = []
    pos = 0
    while (start := pdf.find(b"<<", pos)) >= 0:
        m = _STREAM_START_RE.search(pdf, start + 2)
        end = pdf.find(b"endstream", m.end()) if m else -1
        if end < 0:
            break
        head_at = start + 2
        for kw in _OBJ_KEYWORD_RE.finditer(pdf, head_at, m.start()):
            head_at = kw.end()
        head, pos = pdf[head_at : m.start()], end + 9
        # stream data runs to the last newline before endstream
        data = pdf[m.end() : end].rstrip(b"\r\n")
        if b"/FlateDecode" in head:
            data = _inflate(data)
            if data is None:
                continue
        streams.append(data)
    return streams


# -- Document structure: xref tables/streams, ObjStm, page tree ---------------
# (PDF 32000 §7.5; reference surface: the "PDF/layout parse" arm of the
# north rule's extraction tier.)  Everything here is best-effort: any
# structural inconsistency makes the caller fall back to the raw stream
# scan rather than raising.

_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")
_OBJ_AT_RE = re.compile(rb"\s*(\d+)\s+(\d+)\s+obj")
_STREAM_KW_RE = re.compile(rb"\s*stream(\r\n|\n|\r)")
_XREF_ROW_RE = re.compile(rb"\s*(\d{10})\s+(\d{5})\s+([nf])")
_XREF_SUBSEC_RE = re.compile(rb"\s*(\d+)\s+(\d+)[ \t]*\r?\n")
_INT_TOK_RE = re.compile(rb"[-+]?\d+")
_REF_RE = re.compile(rb"(\d+)\s+(\d+)\s+R\b")
_MAX_OBJECTS = 200_000  # structural walk bound: plenty for any real file


_OBJECT_BOUNDARY = (b"obj", b"endobj", b"stream", b"endstream", b"xref", b"trailer", b"startxref")


def _balanced(buf: bytes, start: int, open_tok: bytes, close_tok: bytes) -> int:
    """End index (exclusive) of the balanced ``open_tok``…``close_tok``
    region beginning at ``start`` (``[``/``]`` or ``<<``/``>>`` delimiter
    tokens, so a hex string such as ``<ABCD>`` before ``>>`` and anything
    inside a string is not counted); -1 if unbalanced.  A region never
    crosses an object boundary keyword, so an unclosed dictionary costs
    a scan of its own object, not of the rest of the file."""
    depth = 0
    for kind, tok, end in _lex(buf, start):
        if kind == _DELIM and tok == open_tok:
            depth += 1
        elif kind == _DELIM and tok == close_tok:
            depth -= 1
            if depth == 0:
                return end
        elif kind == _OP and tok in _OBJECT_BOUNDARY:
            return -1
    return -1


def _dict_int(d: bytes, key: bytes) -> int | None:
    """Direct integer value of ``/key`` (None for refs/absent)."""
    m = re.search(rb"/" + key + rb"\s+(\d+)(?!\s+\d+\s+R)", d)
    return int(m.group(1)) if m else None


def _dict_ref(d: bytes, key: bytes) -> int | None:
    m = re.search(rb"/" + key + rb"\s+(\d+)\s+\d+\s+R\b", d)
    return int(m.group(1)) if m else None


def _dict_array(d: bytes, key: bytes) -> bytes | None:
    m = re.search(rb"/" + key + rb"\s*\[", d)
    if not m:
        return None
    end = _balanced(d, m.end() - 1, b"[", b"]")
    return d[m.end() : end - 1] if end > 0 else None


def _dict_subdict(d: bytes, key: bytes) -> bytes | None:
    m = re.search(rb"/" + key + rb"\s*<<", d)
    if not m:
        return None
    end = _balanced(d, m.end() - 2, b"<<", b">>")
    return d[m.end() - 2 : end] if end > 0 else None


def _png_unpredict(data: bytes, predictor: int, columns: int, colors: int, bpc: int) -> bytes | None:
    """Undo PNG row predictors 10-15 (§7.4.4.4); None on malformed input.
    Predictor 1/None passes through; TIFF predictor 2 is out of envelope."""
    if predictor <= 1:
        return data
    if predictor < 10:
        return None
    bpp = max(1, (colors * bpc) // 8)
    stride = max(1, (columns * colors * bpc + 7) // 8)
    row_len = stride + 1
    if len(data) % row_len:
        data = data[: len(data) - (len(data) % row_len)]
    out = bytearray()
    prev = bytearray(stride)
    for r in range(0, len(data), row_len):
        tag = data[r]
        row = bytearray(data[r + 1 : r + row_len])
        if tag == 1:  # Sub
            for i in range(bpp, stride):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif tag == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif tag == 3:  # Average
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif tag == 4:  # Paeth
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif tag != 0:
            return None
        out += row
        prev = row
    return bytes(out)


def _decode_stream(head: bytes, raw: bytes) -> bytes | None:
    """Apply the stream's filter chain; None when out of envelope (only
    FlateDecode, optionally PNG-predicted, is supported — which is what
    xref/ObjStm/content streams use in practice)."""
    named = re.search(rb"/Filter\s*(?:\[\s*)?/(\w+)", head)
    if named is None:
        return raw
    if named.group(1) != b"FlateDecode":
        return None
    data = _inflate(raw)
    if data is None:
        return None
    parms = _dict_subdict(head, b"DecodeParms") or _dict_subdict(head, b"DP")
    if parms:
        predictor = _dict_int(parms, b"Predictor") or 1
        columns = _dict_int(parms, b"Columns") or 1
        colors = _dict_int(parms, b"Colors") or 1
        bpc = _dict_int(parms, b"BitsPerComponent") or 8
        data = _png_unpredict(data, predictor, columns, colors, bpc)
    return data


_FREE = ("f",)


class _Doc:
    """Random-access object loader over a parsed cross-reference map.
    Entries: obj num → ("o", byte offset) | ("c", objstm num, index) |
    _FREE (deleted; a reference to it is null, §7.3.10)."""

    def __init__(self, pdf: bytes, entries: dict[int, tuple]):
        self.pdf = pdf
        self.entries = entries
        self._objstm: dict[int, list[tuple[int, bytes]]] = {}

    def object(self, num: int, depth: int = 0) -> tuple[bytes | None, bytes | None]:
        """→ (body bytes, decoded stream data or None).  For packed
        objects the body is the slice out of its object stream."""
        if depth > 8:
            return None, None
        e = self.entries.get(num)
        if e is None or e == _FREE:
            return None, None
        if e[0] == "o":
            return self._object_at(e[1], depth)
        packed = self._objstm_objects(e[1], depth)
        idx = e[2]  # xref type-2 field 3 = index WITHIN the object stream
        if 0 <= idx < len(packed) and packed[idx][0] == num:
            return packed[idx][1], None
        for onum, body in packed:  # writer disagreement: trust the header
            if onum == num:
                return body, None
        return None, None

    def _object_at(self, offset: int, depth: int) -> tuple[bytes | None, bytes | None]:
        pdf = self.pdf
        m = _OBJ_AT_RE.match(pdf, offset)
        if not m:
            return None, None
        i = m.end()
        while i < len(pdf) and pdf[i : i + 1] in b" \t\r\n":
            i += 1
        if pdf[i : i + 2] == b"<<":
            end = _balanced(pdf, i, b"<<", b">>")
            if end < 0:
                return None, None
            head = pdf[i:end]
            sm = _STREAM_KW_RE.match(pdf, end)
            if not sm:
                return head, None
            dstart = sm.end()
            length = _dict_int(head, b"Length")
            if length is None:
                ref = _dict_ref(head, b"Length")
                if ref is not None:
                    body, _ = self.object(ref, depth + 1)
                    if body is not None:
                        lm = _INT_TOK_RE.search(body)
                        length = int(lm.group()) if lm else None
            if length is not None and dstart + length <= len(pdf):
                raw = pdf[dstart : dstart + length]
            else:
                em = pdf.find(b"endstream", dstart)
                if em < 0:
                    return head, None
                raw = pdf[dstart:em].rstrip(b"\r\n")
            return head, _decode_stream(head, raw)
        em = pdf.find(b"endobj", i)
        return (pdf[i:em] if em >= 0 else None), None

    def _objstm_objects(self, num: int, depth: int) -> list[tuple[int, bytes]]:
        """Ordered (object number, body) pairs packed in ObjStm ``num`` —
        ordered because xref type-2 entries address by in-stream index."""
        cached = self._objstm.get(num)
        if cached is not None:
            return cached
        self._objstm[num] = []  # break reference cycles while parsing
        head, data = self.object(num, depth + 1)
        if head is None or data is None:
            return self._objstm[num]
        n = _dict_int(head, b"N")
        first = _dict_int(head, b"First")
        if not n or first is None or first > len(data):
            return self._objstm[num]
        ints = [int(t) for t in _INT_TOK_RE.findall(data[:first])][: 2 * n]
        pairs = list(zip(ints[0::2], ints[1::2]))
        body = data[first:]
        out: list[tuple[int, bytes]] = []
        for i, (onum, off) in enumerate(pairs):
            end = pairs[i + 1][1] if i + 1 < len(pairs) else len(body)
            if 0 <= off <= end <= len(body):
                out.append((onum, body[off:end]))
        self._objstm[num] = out
        return out


def _parse_xref_table(pdf: bytes, offset: int, entries: dict[int, tuple]):
    """Classic §7.5.4 table at ``offset`` → (trailer dict bytes, [next
    offsets to follow]); (None, []) if malformed.  A hybrid file's
    /XRefStm (§7.5.8.4) is read here, before the table's free rows land:
    such a table lists the objects its stream holds as free."""
    i = offset + 4  # past "xref"
    free: list[int] = []
    while True:
        m = _XREF_SUBSEC_RE.match(pdf, i)
        if not m:
            break
        start, count = int(m.group(1)), int(m.group(2))
        i = m.end()
        if count > _MAX_OBJECTS:
            return None, []
        for k in range(count):
            rm = _XREF_ROW_RE.match(pdf, i)
            if not rm:
                return None, []
            i = rm.end()
            if rm.group(3) == b"n":
                entries.setdefault(start + k, ("o", int(rm.group(1))))
            else:
                free.append(start + k)
    tm = re.compile(rb"\s*trailer\s*<<").match(pdf, i)
    if not tm:
        return None, []
    end = _balanced(pdf, tm.end() - 2, b"<<", b">>")
    if end < 0:
        return None, []
    trailer = pdf[tm.end() - 2 : end]
    nxt = []
    hybrid = _dict_int(trailer, b"XRefStm")
    if hybrid is not None:
        nxt += _parse_xref_stream(pdf, hybrid, entries)[1]
    for num in free:  # a newer free row hides older sections' offsets
        entries.setdefault(num, _FREE)
    prev = _dict_int(trailer, b"Prev")
    if prev is not None:
        nxt.append(prev)
    return trailer, nxt


def _parse_xref_stream(pdf: bytes, offset: int, entries: dict[int, tuple]):
    """§7.5.8 cross-reference stream at ``offset`` → (stream dict bytes
    as the trailer, [next offsets]); (None, []) if malformed."""
    head, data = _Doc(pdf, {})._object_at(offset, 0)
    if head is None or data is None or b"/XRef" not in head:
        return None, []
    w = _dict_array(head, b"W")
    if w is None:
        return None, []
    widths = [int(t) for t in _INT_TOK_RE.findall(w)]
    if len(widths) < 3 or sum(widths) == 0:
        return None, []
    w1, w2, w3 = widths[:3]
    rec = w1 + w2 + w3
    size = _dict_int(head, b"Size") or 0
    idx = _dict_array(head, b"Index")
    if idx is not None:
        nums = [int(t) for t in _INT_TOK_RE.findall(idx)]
        sections = list(zip(nums[0::2], nums[1::2]))
    else:
        sections = [(0, size)]
    pos = 0
    for start, count in sections:
        if count > _MAX_OBJECTS:
            return None, []
        for k in range(count):
            row = data[pos : pos + rec]
            pos += rec
            if len(row) < rec:
                return None, []
            f1 = int.from_bytes(row[:w1], "big") if w1 else 1
            f2 = int.from_bytes(row[w1 : w1 + w2], "big")
            f3 = int.from_bytes(row[w1 + w2 :], "big")
            num = start + k
            if f1 == 0:
                entries.setdefault(num, _FREE)
            elif f1 == 1:
                entries.setdefault(num, ("o", f2))
            elif f1 == 2:
                entries.setdefault(num, ("c", f2, f3))
    prev = _dict_int(head, b"Prev")
    return head, [prev] if prev is not None else []


def _parse_xref(pdf: bytes) -> tuple[dict[int, tuple], bytes] | None:
    """Follow ``startxref`` and the /Prev chain across classic tables,
    xref streams, and hybrid files → (entries, newest trailer dict)."""
    last = None
    for last in _STARTXREF_RE.finditer(pdf):
        pass
    if last is None:
        return None
    entries: dict[int, tuple] = {}
    trailer: bytes | None = None
    stack = [int(last.group(1))]
    seen: set[int] = set()
    while stack:
        offset = stack.pop(0)
        if offset in seen or not 0 <= offset < len(pdf):
            continue
        seen.add(offset)
        if pdf[offset : offset + 4] == b"xref":
            t, nxt = _parse_xref_table(pdf, offset, entries)
        else:
            t, nxt = _parse_xref_stream(pdf, offset, entries)
        if t is None:
            continue
        if trailer is None:
            trailer = t
        stack.extend(nxt)
    if trailer is None or not entries:
        return None
    return entries, trailer


class _Font:
    """Per-page font face: ``two_byte`` (Type0/CID — 2-byte character
    codes) and its own ToUnicode ``cmap`` (None when the font embeds
    none)."""

    __slots__ = ("two_byte", "cmap")

    def __init__(self, two_byte: bool, cmap: dict[int, str] | None):
        self.two_byte = two_byte
        self.cmap = cmap


# PDF name token after '/': anything up to a delimiter (§7.3.5)
_FONT_REF_RE = re.compile(rb"/([^\s/<>\[\]()%]+)\s+(\d+)\s+\d+\s+R\b")


def _resolve_dict(doc: _Doc, body: bytes, key: bytes) -> bytes | None:
    """``/key`` value as dict bytes: a direct ``<<…>>`` or a reference."""
    sub = _dict_subdict(body, key)
    if sub is not None:
        return sub
    ref = _dict_ref(body, key)
    if ref is None:
        return None
    rbody, _ = doc.object(ref)
    return rbody


def _fonts_from_resources(doc: _Doc, res: bytes) -> dict[bytes, _Font]:
    """``/Font`` entries of a resource dict → {name → _Font}.  Entries
    must be references (the universal writer practice); inline font
    dicts are skipped (their Tf falls back to the document CMap)."""
    fonts: dict[bytes, _Font] = {}
    fdict = _resolve_dict(doc, res, b"Font")
    if fdict is None:
        return fonts
    for m in _FONT_REF_RE.finditer(fdict):
        body, _ = doc.object(int(m.group(2)))
        if body is None:
            continue
        sub = re.search(rb"/Subtype\s*/(\w+)", body)
        two_byte = bool(sub and sub.group(1) == b"Type0")
        cmap: dict[int, str] | None = None
        tu = _dict_ref(body, b"ToUnicode")
        if tu is not None:
            _, data = doc.object(tu)
            if data:
                cmap = parse_tounicode_cmap(data) or None
        fonts[m.group(1)] = _Font(two_byte, cmap)
    return fonts


def structured_pages(pdf: bytes) -> list[tuple[bytes, dict[bytes, _Font]]] | None:
    """(page content bytes, fonts) per page in page-tree order, resolving
    objects through the cross-reference map (incl. objects packed in
    ObjStm).  Multiple ``/Contents`` streams of one page concatenate
    (§7.8.2 treats them as a single stream).  ``/Resources`` inherit down
    the page tree (§7.7.3.4).  None when the file has no usable structure
    or any page content stream fails to decode — callers then fall back
    to the raw physical scan."""
    parsed = _parse_xref(pdf)
    if parsed is None:
        return None
    entries, trailer = parsed
    doc = _Doc(pdf, entries)
    root = _dict_ref(trailer, b"Root")
    if root is None:
        return None
    root_body, _ = doc.object(root)
    if root_body is None:
        return None
    pages = _dict_ref(root_body, b"Pages")
    if pages is None:
        return None
    out: list[tuple[bytes, dict[bytes, _Font]]] = []
    stack: list[tuple[int, bytes | None]] = [(pages, None)]
    visited: set[int] = set()
    while stack:
        if len(visited) > _MAX_OBJECTS:
            return None
        num, inherited_res = stack.pop()
        if num in visited:
            continue
        visited.add(num)
        body, _ = doc.object(num)
        if body is None:
            continue
        res = _resolve_dict(doc, body, b"Resources") or inherited_res
        kids = _dict_array(body, b"Kids")
        if kids is not None:
            refs = [int(m.group(1)) for m in _REF_RE.finditer(kids)]
            stack.extend(reversed([(r, res) for r in refs]))  # DFS, Kids order
            continue
        contents = _dict_array(body, b"Contents")
        if contents is not None:
            refs = [int(m.group(1)) for m in _REF_RE.finditer(contents)]
        else:
            ref = _dict_ref(body, b"Contents")
            refs = [ref] if ref is not None else []
        datas: list[bytes] = []
        for r in refs:
            if doc.entries.get(r) == _FREE:
                continue  # freed by a later update: a null reference
            _, data = doc.object(r)
            if data is None:
                return None  # undecodable page content: whole path falls back
            datas.append(data)
        if datas:
            fonts = _fonts_from_resources(doc, res) if res is not None else {}
            out.append((b"\n".join(datas), fonts))
    return out or None


def _decode_codes(bs: bytes, font: _Font) -> str:
    """Character-code bytes → text.  Type0: 2-byte codes through the
    font's CMap (unmapped codes and a trailing odd byte drop; no CMap at
    all degrades to the raw-byte latin-1 read; a string NONE of whose
    codes map reads as latin-1 — on real crawls that is writer junk like
    an ASCII literal shown under a CID font, or a simple font's hex
    string in a mixed-font document, and readable text must survive).
    Simple fonts: 1-byte codes, mapped when a ToUnicode exists, else
    latin-1."""
    if font.two_byte:
        if font.cmap is None:
            return bs.decode("latin-1")
        out: list[str] = []
        mapped = 0
        for i in range(0, len(bs) - 1, 2):
            v = font.cmap.get(int.from_bytes(bs[i : i + 2], "big"))
            if v is not None:
                mapped += 1
                out.append(v)
        if mapped == 0 and bs:
            return bs.decode("latin-1")
        return "".join(out)
    if font.cmap:
        return "".join(font.cmap.get(b, chr(b)) for b in bs)
    return bs.decode("latin-1")


_SIMPLE = _Font(False, None)  # literal strings with no resolved font
_SHOW_STRING = (b"Tj", b"'", b'"')  # the string is the last operand


def _show_text(
    stream: bytes,
    fonts: dict[bytes, _Font],
    doc_font: Callable[[], _Font],
    lines: list[str],
) -> None:
    """Append one line per show-text operator inside a text block.  ``Tf``
    selects the decode from ``fonts``; before any Tf, or for a font name
    ``fonts`` lacks, literal strings read as latin-1 and hex strings go
    through ``doc_font()`` (the document CMap, built on first use)."""
    operands: list[tuple[int, object]] = []
    font: _Font | None = None
    saved: list[_Font | None] = []
    in_text = False
    for kind, val in _objects(stream):
        if kind != _OP:
            operands.append((kind, val))
            continue
        if val == b"BT":
            in_text = True
        elif val == b"ET":
            in_text = False
        elif val == b"Tf":
            if len(operands) > 1 and operands[-2][0] == _NAME:
                font = fonts.get(operands[-2][1])
        elif val == b"q":
            saved.append(font)
        elif val == b"Q":
            if saved:
                font = saved.pop()
        elif in_text and operands:
            k, v = operands[-1]
            if (val == b"TJ" and k == _ARRAY) or (val in _SHOW_STRING and k in (_LIT, _HEX)):
                text = "".join(
                    _decode_codes(_unescape_bytes(s), font or _SIMPLE)
                    if sk == _LIT
                    else _decode_codes(_hex_bytes(s), font or doc_font())
                    for sk, s in (v if k == _ARRAY else [(k, v)])
                    if sk in (_LIT, _HEX)  # TJ arrays also hold kerning numbers
                )
                if text:
                    lines.append(text)
        operands.clear()


def pdf_to_text_lines(pdf: bytes) -> list[str]:
    """Extract the text layer: one entry per show-text operator, pages in
    page-tree order when the file carries a usable cross-reference
    structure (xref table or stream, incl. ObjStm-packed page dicts),
    else all top-level streams in physical order.  Returns [] for PDFs
    with no extractable simple text.  Under the structural path, fonts
    resolve per page and ``Tf`` selects each operator's decode (so
    conflicting per-font ToUnicode CMaps each apply correctly); without a
    resolved font, hex strings decode as 2-byte CIDs through the
    document's merged ToUnicode CMap when one consistent map exists
    (Identity-H envelope), else as 1-byte latin-1 codes (simple fonts).
    That map flate-decodes every stream, so it is built only when a hex
    string needs it."""
    try:
        pages = structured_pages(pdf)
    except Exception:
        pages = None
    streams = None if pages else _content_streams(pdf)

    @functools.cache
    def doc_font() -> _Font:
        return _Font(True, _document_cmap(_content_streams(pdf) if streams is None else streams))

    lines: list[str] = []
    if pages:
        for content, fonts in pages:
            _show_text(content, fonts, doc_font, lines)
    else:
        for s in streams:
            if not _is_cmap_resource(s):
                _show_text(s, {}, doc_font, lines)
    return lines
