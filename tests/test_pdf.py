"""PDF text-layer extraction: stdlib codec + distributed ingest."""

import os
import sys
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_readability_spark.codec.pdf import pdf_to_text_lines


def _minimal_pdf(content_stream: bytes, flate: bool = False) -> bytes:
    """A syntactically-plausible one-page PDF around a content stream
    (enough structure for the text-layer extractor; not a full writer)."""
    if flate:
        data = zlib.compress(content_stream)
        head = b"<< /Filter /FlateDecode /Length %d >>" % len(data)
    else:
        data = content_stream
        head = b"<< /Length %d >>" % len(data)
    return (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj " + head + b"\nstream\n" + data + b"\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF\n"
    )


CONTENT = (
    b"BT /F1 12 Tf 72 700 Td (Hello PDF world.) Tj ET\n"
    b"BT 72 680 Td [(Second ) (line with \\(escapes\\)) ] TJ ET\n"
    b"BT 72 660 Td (Octal: \\101\\102) ' ET\n"
)


def test_pdf_text_lines_raw_and_flate():
    for flate in (False, True):
        lines = pdf_to_text_lines(_minimal_pdf(CONTENT, flate=flate))
        assert lines == [
            "Hello PDF world.",
            "Second line with (escapes)",
            "Octal: AB",
        ], (flate, lines)


def test_pdf_hex_strings():
    """Hex show-text operators: <...> Tj / ' and hex parts inside TJ
    arrays, whitespace-tolerant, odd-digit padded (PDF spec §7.3.4.3)."""
    content = (
        b"BT <48656C6C6F> Tj ET\n"                       # 'Hello'
        b"BT [(mix ) <414220> (done)] TJ ET\n"           # 'mix AB  done'? -> 'mix AB done'
        b"BT <4 86 9> ' ET\n"                            # whitespace inside hex: 'Hi'
        b"BT <5859 5A7> Tj ET\n"                         # odd digit padded: 'XYZp'
    )
    lines = pdf_to_text_lines(_minimal_pdf(content))
    assert lines == ["Hello", "mix AB done", "Hi", "XYZp"]


def test_pdf_hex_lookalike_inside_literal_not_double_counted():
    """Literal strings whose text happens to contain hex-digit-only angle
    text (e.g. '(a<b>)') must not ALSO match as hex strings in TJ arrays."""
    lines = pdf_to_text_lines(_minimal_pdf(b"BT [(a<b>) ( c)] TJ ET"))
    assert lines == ["a<b> c"]
    # same guard on the standalone path: hex-lookalike text followed by a
    # literal 'Tj' INSIDE a (...) Tj literal must not re-emit as hex
    lines = pdf_to_text_lines(_minimal_pdf(b"BT (see <41> Tj) Tj ET"))
    assert lines == ["see <41> Tj"]


def test_pdf_malformed_escape_degrades_gracefully():
    r"""\8 / \9 are not octal digits: the backslash is dropped and the
    character kept, instead of ValueError killing the Spark task."""
    lines = pdf_to_text_lines(_minimal_pdf(b"BT (bad\\8esc \\9) Tj ET"))
    assert lines == ["bad8esc 9"]


def _pdf_with_streams(streams: list[bytes], flate: bool = False) -> bytes:
    """Multi-stream PDF scaffold (e.g. a ToUnicode CMap resource stream
    alongside the page content stream)."""
    objs = []
    for i, s in enumerate(streams):
        data = zlib.compress(s) if flate else s
        head = (
            b"<< /Filter /FlateDecode /Length %d >>" % len(data)
            if flate
            else b"<< /Length %d >>" % len(data)
        )
        objs.append(
            b"%d 0 obj " % (10 + i) + head + b"\nstream\n" + data
            + b"\nendstream endobj\n"
        )
    return b"%PDF-1.4\n" + b"".join(objs) + b"trailer << >>\n%%EOF\n"


CID_CMAP = (
    b"/CIDInit /ProcSet findresource begin\n"
    b"12 dict begin\n"
    b"begincmap\n"
    b"/CMapName /Adobe-Identity-UCS def\n"
    b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
    b"2 beginbfchar\n"
    b"<0003> <0048>\n"          # CID 3 -> 'H'
    b"<0004> <00650079>\n"      # CID 4 -> 'ey' (multi-char UTF-16BE dst)
    b"endbfchar\n"
    b"2 beginbfrange\n"
    b"<0010> <0012> <006C>\n"               # 0x10..0x12 -> 'l','m','n'
    b"<0020> <0021> [<0021> <003F>]\n"      # array form: '!' '?'
    b"endbfrange\nendcmap\n"
    b"CMapName currentdict /CMap defineresource pop\nend\nend\n"
)


def test_pdf_cid_identity_h_tounicode_cmap():
    """VERDICT r3 item 5: the single-consistent-CMap Identity-H envelope
    decodes 2-byte hex CIDs through the document's ToUnicode CMap —
    bfchar (incl. multi-char destinations), incrementing bfrange, and
    array bfrange forms, in Tj and inside TJ arrays; the CMap resource
    stream itself contributes no text lines."""
    for flate in (False, True):
        content = (
            b"BT /F0 12 Tf <0003 0004 0020> Tj ET\n"   # H + ey + ! = 'Hey!'
            b"BT [<00030004> <0010>] TJ ET\n"          # 'Hey' + 'l'
            b"BT <001100120021> ' ET\n"                # 'mn?'
        )
        lines = pdf_to_text_lines(_pdf_with_streams([CID_CMAP, content], flate=flate))
        assert lines == ["Hey!", "Heyl", "mn?"], (flate, lines)


def test_pdf_cid_unmapped_and_odd_codes_drop():
    """Codes absent from the CMap and a trailing odd byte are dropped
    rather than emitted as garbage."""
    content = b"BT <0003 FFFE 0004 41> Tj ET"  # FFFE unmapped, 41 odd tail
    lines = pdf_to_text_lines(_pdf_with_streams([CID_CMAP, content]))
    assert lines == ["Hey"]


def test_pdf_page_quoting_cmap_tokens_still_extracts():
    """Page content whose Tj literal merely CONTAINS CMap tokens is page
    content: it must extract (not be skipped as a resource stream) and
    its quoted — conflicting — bfchar snippet must not poison the
    document CMap (a real resource stream has no BT…ET block)."""
    content = (
        b"BT (beginbfchar <0003> <0058> endbfchar) Tj ET\n"
        b"BT <0003> Tj ET"
    )
    lines = pdf_to_text_lines(_pdf_with_streams([CID_CMAP, content]))
    assert lines == ["beginbfchar <0003> <0058> endbfchar", "H"]


def test_pdf_simple_font_hex_in_cid_document_falls_back():
    """A hex string NONE of whose 2-byte codes exist in the document
    CMap is a simple font's 1-byte-code text in a mixed-font document —
    decode latin-1 instead of silently dropping it."""
    content = b"BT <0003> Tj ET\nBT <4869> Tj ET"  # CID 'H'; simple 'Hi'
    lines = pdf_to_text_lines(_pdf_with_streams([CID_CMAP, content]))
    assert lines == ["H", "Hi"]


def test_pdf_conflicting_cmaps_fall_back_to_single_byte():
    """Two fonts reusing the same CID space with different mappings need
    per-font resource resolution, which this file has no structure for —
    the stdlib codec must detect the conflict and keep the 1-byte
    interpretation instead of guessing."""
    other = b"1 beginbfchar\n<0003> <0058>\nendbfchar\n"  # CID 3 -> 'X'
    content = b"BT <4869> Tj ET"  # 1-byte decode: 'Hi'
    lines = pdf_to_text_lines(_pdf_with_streams([CID_CMAP, other, content]))
    assert lines == ["Hi"]
    # consistent duplicate CMaps stay in-envelope
    lines = pdf_to_text_lines(
        _pdf_with_streams([CID_CMAP, CID_CMAP, b"BT <0003> Tj ET"])
    )
    assert lines == ["H"]


def test_pdf_cid_font_without_cmap_decodes_byte_wise():
    """CID-keyed (Type0) fonts WITHOUT an embedded consistent ToUnicode
    CMap are outside the stdlib codec's envelope: their hex strings are
    2-byte CIDs the codec can't name, so the built-in decode reads them
    one byte at a time and produces control-char garbage."""
    # <00480069> = CIDs 0x0048,0x0069 ("Hi" under an identity CMap) — the
    # 1-byte decode yields '\x00H\x00i', demonstrating the envelope edge
    cid_content = b"BT /F0 12 Tf <00480069> Tj ET"
    pdf = _minimal_pdf(cid_content, flate=True)
    assert pdf_to_text_lines(pdf) == ["\x00H\x00i"]  # in-envelope byte decode


def test_pdf_markup_chars_in_lines_are_data_not_tags(spark):
    """A text line containing '<', '>', '&' (or tag-like text) must reach
    the kernel as DATA: escaped into the <p> scaffold, surviving to the
    extracted text instead of being parsed as markup."""
    from go_readability_spark.spark.corpus import ingest_pdf_documents
    from go_readability_spark.spark.extract import extract_articles

    tricky = [
        b"Comparing totals shows a < b for AT&T customers in every region tested.",
        b"The literal sequence </body> appears here as text and must not truncate.",
    ]
    filler = [
        b"Paragraph %d of the body, full of readable words that the scorer "
        b"keeps together in the article, with commas, and enough length to "
        b"score well." % i
        for i in range(10)
    ]
    content = b"".join(b"BT (%s) Tj ET\n" % line for line in tricky + filler)
    df = spark.createDataFrame(
        [("esc-1", bytearray(_minimal_pdf(content, flate=True)))],
        "doc_id string, payload binary",
    )
    docs = ingest_pdf_documents(df)
    spans = docs.collect()[0].spans
    assert all(s.kind == "markup" for s in spans)  # html_to_spans vocabulary
    art = extract_articles(docs).collect()[0]
    assert art.status == "ok"
    assert "a < b for AT&T customers" in art.text_content
    assert "</body> appears here as text" in art.text_content
    assert "Paragraph 9 of the body" in art.text_content  # nothing truncated


def test_pdf_garbage_and_empty():
    assert pdf_to_text_lines(b"") == []
    assert pdf_to_text_lines(b"not a pdf at all") == []
    # corrupt flate stream is skipped, not raised
    bad = _minimal_pdf(b"BT (x) Tj ET")
    bad = bad.replace(b"<< /Length", b"<< /Filter /FlateDecode /Length")
    assert pdf_to_text_lines(bad) == []


def test_pdf_inflation_is_capped():
    """A FlateDecode stream that inflates to 64 MiB (a zip bomb beside a
    normal page) is skipped like a corrupt one, on the physical stream
    scan and on the cross-reference path alike: the normal page's lines
    come out unchanged and memory stays under twice the inflate limit."""
    import tracemalloc

    from go_readability_spark.codec.pdf import _INFLATE_LIMIT

    bomb = b" " * (64 << 20)
    cases = [
        (_pdf_with_streams([bomb, CONTENT], flate=True), pdf_to_text_lines(_pdf_with_streams([CONTENT], flate=True))),
        (_build_structured_pdf(["alpha page one", "x" * (64 << 20)], scramble=False), ["alpha page one"]),
    ]
    del bomb
    for pdf, want in cases:
        assert len(pdf) < 1 << 20
        tracemalloc.start()
        try:
            assert pdf_to_text_lines(pdf) == want
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < 2 * _INFLATE_LIMIT


def test_ingest_pdf_documents_extracts_through_kernel(spark):
    """PDF binary rows → span documents → the same Arc90 extraction
    operator as HTML, end-to-end."""
    from go_readability_spark.spark.corpus import ingest_pdf_documents
    from go_readability_spark.spark.extract import extract_articles

    # enough paragraphs to clear char_threshold
    paras = b"".join(
        b"BT 72 %d Td (Paragraph %d of the PDF body, full of readable words "
        b"that the scorer should keep together in the article, with commas, "
        b"and enough length to score.) Tj ET\n" % (700 - 14 * i, i)
        for i in range(12)
    )
    pdf = _minimal_pdf(paras, flate=True)
    df = spark.createDataFrame(
        [("pdf-1", bytearray(pdf), "http://fakehost/doc.pdf")],
        "doc_id string, payload binary, uri string",
    )
    docs = ingest_pdf_documents(df)
    rows = docs.collect()
    assert len(rows) == 1 and len(rows[0].spans) == 14  # 12 paras + scaffold
    art = extract_articles(docs).collect()[0]
    assert art.status == "ok"
    assert "Paragraph 3 of the PDF body" in art.text_content
    assert art.length > 500


def test_literal_string_line_continuation():
    """Backslash-EOL inside a literal string is a line continuation (PDF
    32000 7.3.4.2): BOTH the backslash and the EOL drop; \\r\\n is one
    EOL marker."""
    from go_readability_spark.codec.pdf import _unescape_bytes

    assert _unescape_bytes(b"line1\\\nline2") == b"line1line2"
    assert _unescape_bytes(b"line1\\\r\nline2") == b"line1line2"
    assert _unescape_bytes(b"line1\\\rline2") == b"line1line2"


# -- Object-stream / xref-stream PDFs (PDF 32000 §7.5.7-7.5.8) ----------------


def _build_structured_pdf(page_texts, xref_stream=True, scramble=True):
    """A well-formed multi-page PDF: catalog/pages/page dicts packed in an
    ObjStm (xref-stream mode) or top-level (classic mode), FlateDecode
    content streams, and a real cross-reference (stream with PNG Up
    predictor, or classic table + trailer).  ``scramble`` writes content
    streams in REVERSE page order so physical-scan order differs from
    page-tree order — the property the structural parser must fix."""
    buf = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}

    def add_obj(num, body: bytes):
        offsets[num] = len(buf)
        buf.extend(b"%d 0 obj\n" % num + body + b"\nendobj\n")

    def add_stream_obj(num, head_extra: bytes, data: bytes):
        offsets[num] = len(buf)
        head = b"<< " + head_extra + b" /Length %d >>" % len(data)
        buf.extend(
            b"%d 0 obj\n" % num + head + b"\nstream\n" + data + b"\nendstream\nendobj\n"
        )

    n_pages = len(page_texts)
    first_content = 3 + n_pages
    objstm_num = first_content + n_pages
    xref_num = objstm_num + 1

    kids = b" ".join(b"%d 0 R" % (3 + i) for i in range(n_pages))
    packed = [
        (1, b"<</Type/Catalog/Pages 2 0 R>>"),
        (2, b"<</Type/Pages/Count %d/Kids [%s]>>" % (n_pages, kids)),
    ]
    for i in range(n_pages):
        packed.append(
            (3 + i, b"<</Type/Page/Parent 2 0 R/Contents %d 0 R>>" % (first_content + i))
        )

    content_data = [zlib.compress(b"BT (%s) Tj ET" % t.encode()) for t in page_texts]
    order = range(n_pages - 1, -1, -1) if scramble else range(n_pages)
    for i in order:
        add_stream_obj(first_content + i, b"/Filter /FlateDecode", content_data[i])

    if not xref_stream:
        # classic mode: packed objects written top-level, classic xref table
        for num, body in packed:
            add_obj(num, body)
        xref_offset = len(buf)
        size = objstm_num  # objects 0..objstm_num-1 (no objstm/xref objects)
        rows = [b"0000000000 65535 f \n"]
        for n in range(1, size):
            rows.append(b"%010d 00000 n \n" % offsets[n])
        buf.extend(b"xref\n0 %d\n" % size + b"".join(rows))
        buf.extend(b"trailer\n<< /Size %d /Root 1 0 R >>\n" % size)
        buf.extend(b"startxref\n%d\n%%%%EOF\n" % xref_offset)
        return bytes(buf)

    # ObjStm holding the catalog/pages/page dicts
    bodies = [b for _, b in packed]
    offs, o = [], 0
    for b in bodies:
        offs.append(o)
        o += len(b) + 1
    header = b" ".join(
        b"%d %d" % (num, off) for (num, _), off in zip(packed, offs)
    ) + b" "
    objstm_raw = header + b" ".join(bodies)
    add_stream_obj(
        objstm_num,
        b"/Type /ObjStm /N %d /First %d /Filter /FlateDecode" % (len(packed), len(header)),
        zlib.compress(objstm_raw),
    )

    # xref stream: W [1 4 2], PNG Up predictor, FlateDecode
    xref_offset = len(buf)
    size = xref_num + 1

    def row(t, f2, f3):
        return bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")

    table = {0: row(0, 0, 0xFFFF)}
    for idx, (num, _) in enumerate(packed):
        table[num] = row(2, objstm_num, idx)
    for i in range(n_pages):
        table[first_content + i] = row(1, offsets[first_content + i], 0)
    table[objstm_num] = row(1, offsets[objstm_num], 0)
    table[xref_num] = row(1, xref_offset, 0)
    raw_rows = b"".join(table[n] for n in range(size))
    stride = 7
    enc, prev = bytearray(), bytes(stride)
    for r in range(0, len(raw_rows), stride):
        cur = raw_rows[r : r + stride]
        enc.append(2)  # PNG Up filter per row
        enc.extend((cur[i] - prev[i]) & 0xFF for i in range(stride))
        prev = cur
    add_stream_obj(
        xref_num,
        b"/Type /XRef /Size %d /W [1 4 2] /Root 1 0 R /Filter /FlateDecode"
        b" /DecodeParms << /Predictor 12 /Columns 7 >>" % size,
        zlib.compress(bytes(enc)),
    )
    buf.extend(b"startxref\n%d\n%%%%EOF\n" % xref_offset)
    return bytes(buf)


PAGES3 = ["alpha page one", "beta page two", "gamma page three"]


def test_pdf_objstm_xref_stream_extracts_in_page_order():
    """PDF 1.5+ class: page dicts packed in an ObjStm, located through a
    PNG-predicted xref stream — extraction must follow the page tree even
    though the content streams are physically reversed (no hook)."""
    pdf = _build_structured_pdf(PAGES3, xref_stream=True, scramble=True)
    assert pdf_to_text_lines(pdf) == PAGES3


def test_pdf_classic_xref_table_extracts_in_page_order():
    pdf = _build_structured_pdf(PAGES3, xref_stream=False, scramble=True)
    assert pdf_to_text_lines(pdf) == PAGES3


def test_pdf_structured_page_streams_shape():
    from go_readability_spark.codec.pdf import structured_pages

    pdf = _build_structured_pdf(PAGES3, xref_stream=True, scramble=True)
    pages = structured_pages(pdf)
    assert pages is not None and len(pages) == 3
    assert all(b"BT" in content for content, _ in pages)


def test_pdf_broken_xref_falls_back_to_physical_scan():
    """Corrupting startxref must degrade to the raw scan (same text set,
    physical order), never to an exception or empty output."""
    pdf = _build_structured_pdf(PAGES3, xref_stream=True, scramble=True)
    broken = pdf.replace(b"startxref", b"startxrEf")
    lines = pdf_to_text_lines(broken)
    assert lines == list(reversed(PAGES3))  # physical order, all pages


def test_pdf_physical_scan_reads_each_stream_head_from_its_own_dict():
    """Without usable structure, a stream is inflated only when its own
    dictionary names /FlateDecode: a filter in an earlier non-stream
    object does not apply to the next plain stream."""
    plain = b"2 0 obj << /Length 12 >> stream\nBT (x) Tj ET\nendstream endobj\n"
    for first in (b"<< /Type /XObject >>", b"<< /Type /XObject /Filter /FlateDecode >>"):
        assert pdf_to_text_lines(b"1 0 obj " + first + b" endobj\n" + plain) == ["x"]
    # a name merely containing 'obj' does not cut a stream's own head short
    packed = zlib.compress(b"BT (y) Tj ET")
    flate = b"3 0 obj << /Filter /FlateDecode /Subobj 1 >> stream\n" + packed + b"\nendstream endobj\n"
    assert pdf_to_text_lines(plain + flate) == ["x", "y"]


def test_pdf_objstm_through_spark_ingest(spark):
    """The ObjStm envelope end-to-end: binary payload → ingest → kernel
    paragraphs."""
    from go_readability_spark.spark.corpus import ingest_pdf_documents
    from go_readability_spark.spark.extract import extract_articles

    pdf = _build_structured_pdf(
        ["opening paragraph with enough words to score." * 3] * 4,
        xref_stream=True,
    )
    df = spark.createDataFrame([("pdf-objstm-1", bytearray(pdf))], "doc_id string, payload binary")
    arts = extract_articles(ingest_pdf_documents(df)).collect()
    assert len(arts) == 1 and arts[0].status == "ok"
    assert "opening paragraph" in arts[0].text_content


# -- Per-font CID decoding (Resources→Font→ToUnicode + Tf tracking) -----------


def _cmap_stream(pairs):
    """Minimal ToUnicode CMap mapping each (src_hex, dst_hex) bfchar pair."""
    rows = b"".join(b"<%s> <%s>\n" % (s, d) for s, d in pairs)
    return (
        b"/CIDInit /ProcSet findresource begin\nbegincmap\n"
        b"%d beginbfchar\n" % len(pairs) + rows + b"endbfchar\nendcmap\nend\n"
    )


def _build_pdf_with_fonts(objs, root=1):
    """Classic-xref PDF from {num: dict body | ('stream', head_extra, data)}.
    Objects written in number order, real offsets, table + trailer."""
    buf = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(buf)
        spec = objs[num]
        if isinstance(spec, tuple):
            _, head_extra, data = spec
            head = b"<< " + head_extra + b" /Length %d >>" % len(data)
            buf.extend(
                b"%d 0 obj\n" % num + head + b"\nstream\n" + data
                + b"\nendstream\nendobj\n"
            )
        else:
            buf.extend(b"%d 0 obj\n" % num + spec + b"\nendobj\n")
    size = max(objs) + 1
    xref_offset = len(buf)
    rows = [b"0000000000 65535 f \n"]
    for n in range(1, size):
        rows.append(
            b"%010d 00000 n \n" % offsets[n] if n in offsets else b"0000000000 65535 f \n"
        )
    buf.extend(b"xref\n0 %d\n" % size + b"".join(rows))
    buf.extend(b"trailer\n<< /Size %d /Root %d 0 R >>\n" % (size, root))
    buf.extend(b"startxref\n%d\n%%%%EOF\n" % xref_offset)
    return bytes(buf)


# font A: CID 3 -> 'A', CID 4 -> 'pple'; font B reuses the SAME CIDs
CMAP_A = _cmap_stream([(b"0003", b"0041"), (b"0004", b"00700070006C0065")])
CMAP_B = _cmap_stream([(b"0003", b"0042"), (b"0004", b"0061006E0061006E0061")])


def _two_font_pdf(content, pages_resources=False):
    """One page, two Type0 fonts /FA /FB with CONFLICTING ToUnicode maps.
    ``pages_resources`` hangs /Resources off the Pages node (inheritance)
    instead of the page."""
    res = b"/Resources << /Font << /FA 5 0 R /FB 6 0 R >> >>"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 %s>>"
        % (res if pages_resources else b""),
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R %s>>"
        % (b"" if pages_resources else res),
        4: ("stream", b"", content),
        5: b"<< /Type /Font /Subtype /Type0 /BaseFont /FakeA /ToUnicode 7 0 R >>",
        6: b"<< /Type /Font /Subtype /Type0 /BaseFont /FakeB /ToUnicode 8 0 R >>",
        7: ("stream", b"", CMAP_A),
        8: ("stream", b"", CMAP_B),
    }
    return _build_pdf_with_fonts(objs)


def test_pdf_per_font_conflicting_cmaps_decode_correctly():
    """Two Type0 fonts reusing the same CID space with different ToUnicode
    maps — the r4 envelope edge (document-merge conflicts fell back to
    latin-1) — now decode per font via Resources→Font→ToUnicode + Tf.
    The font persists across BT blocks until the next Tf."""
    content = (
        b"BT /FA 12 Tf <00030004> Tj ET\n"   # 'Apple'
        b"BT /FB 12 Tf <00030004> Tj ET\n"   # 'Banana'
        b"BT [<0003> (x) <0004>] TJ ET\n"    # still FB: 'B' + 'x' + 'anana'
    )
    lines = pdf_to_text_lines(_two_font_pdf(content))
    # literal (x) under a Type0 font: no 2-byte code maps, so the string
    # degrades to latin-1 (writer junk must stay readable, not drop)
    assert lines == ["Apple", "Banana", "Bxanana"], lines


def test_pdf_font_resources_inherit_from_pages_node():
    content = b"BT /FA 1 Tf <0003> Tj ET\nBT /FB 1 Tf <0003> Tj ET"
    lines = pdf_to_text_lines(_two_font_pdf(content, pages_resources=True))
    assert lines == ["A", "B"], lines


def test_pdf_tf_inside_literal_does_not_switch_font():
    content = (
        b"BT /FA 12 Tf (quoting /FB 9 Tf here) Tj ET\n"
        b"BT <0003> Tj ET"  # still FA: 'A'
    )
    lines = pdf_to_text_lines(_two_font_pdf(content))
    assert lines == ["quoting /FB 9 Tf here", "A"], lines


def test_pdf_unresolved_font_name_falls_back_to_document_cmap():
    """A Tf naming a font absent from /Resources (broken writer) keeps the
    document-CMap fallback instead of dropping text: here the two CMaps
    conflict, so the merged map is None and bytes read as latin-1."""
    content = b"BT /Missing 12 Tf <4869> Tj ET"
    lines = pdf_to_text_lines(_two_font_pdf(content))
    assert lines == ["Hi"], lines


def test_pdf_simple_font_tounicode_maps_single_bytes():
    """A simple (1-byte-code) font with its own ToUnicode: mapped bytes
    translate, unmapped bytes keep their latin-1 identity."""
    cmap = _cmap_stream([(b"41", b"03A9")])  # 'A' -> GREEK CAPITAL OMEGA
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R >> >> >>",
        4: ("stream", b"", b"BT /F1 10 Tf (ABC) Tj <414243> ' ET"),
        5: b"<< /Type /Font /Subtype /TrueType /BaseFont /Fake /ToUnicode 6 0 R >>",
        6: ("stream", b"", cmap),
    }
    lines = pdf_to_text_lines(_build_pdf_with_fonts(objs))
    assert lines == ["ΩBC", "ΩBC"], lines


def test_pdf_fuzz_burst_never_raises():
    """A bounded burst of the structure-aware mutation fuzz (the long run
    lives in tools/fuzz_pdf.py): pdf_to_text_lines must never raise on
    adversarial bytes — crawl PDFs are adversarial by construction."""
    import importlib
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    fuzz = importlib.import_module("fuzz_pdf")
    assert fuzz.main(2.0) == 0


# -- Lexer-level behaviour: one left-to-right pass over content streams -------


def test_pdf_operator_text_inside_literals_is_data():
    """'ET'/'BT', parentheses and '%' inside a literal string are string
    bytes: a 'BT(.*?)ET' scan ends the block at the ET of (MARKET), and a
    literal whose parentheses nest balanced (§7.3.4.2) is one string.  A
    '%' outside strings starts a comment."""
    content = (
        b"BT (MARKET) Tj (GET it) Tj (next) Tj ET\n"
        b"BT (a (nested) b) Tj [(x (y) z) ( w)] TJ (BT) Tj ET\n"
        b"BT (100%) Tj % (commented out) Tj\n(after) Tj ET"
    )
    lines = pdf_to_text_lines(_minimal_pdf(content))
    assert lines == ["MARKET", "GET it", "next", "a (nested) b", "x (y) z w", "BT", "100%", "after"]


def test_pdf_double_quote_and_unterminated_text_block():
    """The '"' operator (word and character spacing, then the string)
    shows text like Tj; a text block cut off before its ET still shows."""
    lines = pdf_to_text_lines(_minimal_pdf(b'BT 1 0.5 (spaced out) " 2 1 <4869> " ET'))
    assert lines == ["spaced out", "Hi"]
    assert pdf_to_text_lines(_minimal_pdf(b"BT (tail) Tj")) == ["tail"]


def test_pdf_font_selected_inside_q_does_not_leak_past_Q():
    """Q restores the graphics state saved by q, the font included
    (§8.4.2): text after Q decodes through the font selected before q."""
    content = b"BT /FA 12 Tf ET\nq BT /FB 12 Tf <0003> Tj ET Q\nBT <0003> Tj ET"
    assert pdf_to_text_lines(_two_font_pdf(content)) == ["B", "A"]


def test_pdf_hex_string_closing_a_dict():
    """A hex string right before '>>' is not half of a '>>' token: the
    content stream whose dictionary ends in one is found, so the page
    tree (not the physical order) still sets the order, and keys after a
    nested '<</K <ABCD>>>' still resolve."""
    second = b"BT (second) Tj ET"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>",
        3: b"<< /Type /Page /Parent 2 0 R /ID [<ABCD> <EF01>] /Contents 6 0 R >>",
        4: b"<< /Type /Page /Extra <</K <ABCD>>> /Parent 2 0 R /Contents 5 0 R >>",
        5: b"<< /Length %d /Check <ABCD>>>\nstream\n%s\nendstream" % (len(second), second),
        6: ("stream", b"", b"BT (first) Tj ET"),
    }
    assert pdf_to_text_lines(_build_pdf_with_fonts(objs)) == ["first", "second"]


def test_pdf_resolved_fonts_never_build_the_document_cmap(monkeypatch):
    """When every show-text operator has a resolved font, the document
    CMap (which flate-decodes every stream) is never built."""
    from go_readability_spark.codec import pdf as codec

    def boom(pdf):
        raise AssertionError("document CMap built")

    monkeypatch.setattr(codec, "_content_streams", boom)
    content = b"BT (plain) Tj /FA 12 Tf <00030004> Tj ET\nBT /FB 12 Tf <0003> Tj ET"
    assert codec.pdf_to_text_lines(_two_font_pdf(content)) == ["plain", "Apple", "B"]


def test_pdf_show_text_scan_is_linear():
    """16k show-text operators in one stream: one left-to-right pass takes
    well under a second; an overlap check per operator took ~16 s."""
    import time

    ops = b"".join(b"(line %d of the stream) Tj T*\n" % i for i in range(16_000))
    pdf = _minimal_pdf(b"BT /F1 11 Tf\n" + ops + b"ET", flate=True)
    t0 = time.perf_counter()
    lines = pdf_to_text_lines(pdf)
    assert time.perf_counter() - t0 < 3.0
    assert len(lines) == 16_000 and lines[-1] == "line 15999 of the stream"


# -- Incremental updates: free cross-reference entries ------------------------


def _startxref(pdf: bytes) -> int:
    return int(pdf.rsplit(b"startxref", 1)[1].split()[0])


def _pdf_update_freeing_obj4(xref_stream: bool) -> bytes:
    """A page whose /Contents lists objects 4 and 5, then an incremental
    update that frees object 4 — a classic table section with an 'f' row,
    or an xref stream with a type-0 row — chained through /Prev."""
    base = _build_pdf_with_fonts({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents [4 0 R 5 0 R] >>",
        4: ("stream", b"", b"BT (deleted draft) Tj ET"),
        5: ("stream", b"", b"BT (kept text) Tj ET"),
    })
    buf, prev = bytearray(base), _startxref(base)
    xref = len(buf)
    if xref_stream:
        row = bytes([0, 0, 0, 0, 0, 0, 1])  # W [1 4 2]: type 0, next free 0, gen 1
        buf += (
            b"6 0 obj\n<< /Type /XRef /Size 7 /W [1 4 2] /Index [4 1] /Root 1 0 R"
            b" /Prev %d /Length %d >>\nstream\n%s\nendstream\nendobj\n" % (prev, len(row), row)
        )
    else:
        buf += (
            b"xref\n0 1\n0000000000 65535 f \n4 1\n0000000000 00001 f \n"
            b"trailer\n<< /Size 6 /Root 1 0 R /Prev %d >>\n" % prev
        )
    buf += b"startxref\n%d\n%%%%EOF\n" % xref
    return bytes(buf)


def test_pdf_freed_content_object_is_not_extracted():
    """A newer free entry hides the older in-use offset of the same object
    along the /Prev chain; a page reference to it reads as null."""
    for xref_stream in (False, True):
        lines = pdf_to_text_lines(_pdf_update_freeing_obj4(xref_stream))
        assert lines == ["kept text"], (xref_stream, lines)


def test_pdf_hybrid_table_free_rows_yield_to_its_xref_stream():
    """A hybrid-reference file (§7.5.8.4): the classic table lists the
    ObjStm-packed catalog and page dicts as free, and the stream named by
    its /XRefStm locates them.  Those free rows must not hide them."""
    pdf = _build_structured_pdf(PAGES3, xref_stream=True, scramble=True)
    size = 3 + 2 * len(PAGES3) + 2
    rows = []
    for num in range(size):
        at = pdf.find(b"\n%d 0 obj\n" % num)  # top-level objects only
        rows.append(b"%010d 00000 n \n" % (at + 1) if at >= 0 else b"0000000000 65535 f \n")
    table = len(pdf)
    pdf += (
        b"xref\n0 %d\n" % size + b"".join(rows)
        + b"trailer\n<< /Size %d /Root 1 0 R /XRefStm %d >>\n" % (size, _startxref(pdf))
        + b"startxref\n%d\n%%%%EOF\n" % table
    )
    assert pdf_to_text_lines(pdf) == PAGES3


def _unclosed_page_dicts_pdf(n: int) -> bytes:
    """A classic-xref PDF whose ``n`` page dictionaries each open one
    ``<<`` too many."""
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [%s] /Count %d >>"
        % (b" ".join(b"%d 0 R" % (3 + i) for i in range(n)), n),
    }
    for i in range(n):
        objs[3 + i] = b"<< /Type /Page /Parent 2 0 R << /Contents 9 0 R >>"
    return _build_pdf_with_fonts(objs)


def test_pdf_adversarial_structure_is_linear():
    """Each byte is scanned a bounded number of times.  Thousands of
    stream-less dictionaries: a regex retrying every '<<' to the end of
    the file took ~80 s.  Thousands of unclosed page dictionaries: a
    delimiter match running past its own object took ~70 s."""
    import time

    streamless = b"%PDF-1.4\n" + b"".join(
        b"%d 0 obj << /A %d >> endobj\n" % (i, i) for i in range(16_000)
    )
    for pdf in (streamless, _unclosed_page_dicts_pdf(2_000)):
        t0 = time.perf_counter()
        assert pdf_to_text_lines(pdf) == []
        assert time.perf_counter() - t0 < 3.0
