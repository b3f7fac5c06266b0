"""Robustness fuzz for the stdlib PDF text-layer codec.

Property: ``pdf_to_text_lines`` NEVER raises and returns a list of str,
whatever bytes arrive — crawl PDFs are adversarial by construction
(truncated files, flipped bytes, garbage xref offsets, hostile object
graphs).  Structure-aware mutations start from valid fixtures (classic
xref, xref-stream/ObjStm, per-font CID, q/Q and array content, an
incremental update freeing an object, a structure-less file whose
filter key sits in an earlier object) so the fuzz reaches the deep
paths (object loader, ObjStm unpack, page-tree walk, font resolution,
CMap parse, the lexer's strings, comments and arrays) instead of dying
at the header check.

Usage: python tools/fuzz_pdf.py [seconds]   (default 60)
"""

from __future__ import annotations

import os
import random
import sys
import time
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from go_readability_spark.codec.pdf import pdf_to_text_lines  # noqa: E402

import test_pdf as fixtures  # noqa: E402  (reuses the checked-in builders)

_TOKENS = [
    b"stream", b"endstream", b"obj", b"endobj", b"xref", b"startxref",
    b"trailer", b"/Root", b"/Pages", b"/Kids", b"/Contents", b"/Font",
    b"/ToUnicode", b"/Type0", b"/ObjStm", b"/XRef", b"/Prev", b"/Length",
    b"/Filter", b"/FlateDecode", b"/First", b"/N", b"/W", b"/Index",
    b"beginbfchar", b"endbfchar", b"beginbfrange", b"BT", b"ET", b"Tj",
    b"TJ", b"Tf", b"<<", b">>", b"[", b"]", b"(", b")", b"R", b"0", b"\xef\xbf\xbd",
    b"q", b"Q", b'"', b"'", b"%", b"(a(b)c)", b"((", b"))", b"\\",
]


def _seeds() -> list[bytes]:
    pages = ["alpha page one", "beta two", "gamma three"]
    return [
        fixtures._build_structured_pdf(pages, xref_stream=True, scramble=True),
        fixtures._build_structured_pdf(pages, xref_stream=False, scramble=True),
        fixtures._two_font_pdf(
            b"BT /FA 12 Tf <00030004> Tj ET\nBT /FB 12 Tf [(x) <0003>] TJ ET"
        ),
        fixtures._minimal_pdf(fixtures.CONTENT, flate=True),
        fixtures._pdf_with_streams([fixtures.CID_CMAP, b"BT <0003> Tj ET"]),
        fixtures._two_font_pdf(
            b"q BT /FA 12 Tf 1 2 <0003> \" ET Q\nBT [(a (b) c) <0004>] TJ (x) ' ET"
        ),
        fixtures._pdf_update_freeing_obj4(xref_stream=True),
        # no xref: an earlier object's /Filter must not reach a plain stream
        b"1 0 obj << /Type /XObject /Filter /FlateDecode >> endobj\n"
        b"2 0 obj << /Length 12 >> stream\nBT (x) Tj ET\nendstream endobj\n",
    ]


def _mutate(rng: random.Random, pdf: bytes) -> bytes:
    buf = bytearray(pdf)
    for _ in range(rng.randint(1, 6)):
        op = rng.randrange(7)
        if not buf:
            return bytes(buf)
        if op == 0:  # flip a byte
            i = rng.randrange(len(buf))
            buf[i] = rng.randrange(256)
        elif op == 1:  # truncate
            buf = buf[: rng.randrange(len(buf))]
        elif op == 2:  # splice a structural token
            i = rng.randrange(len(buf) + 1)
            buf[i:i] = rng.choice(_TOKENS)
        elif op == 3:  # delete a slice
            i = rng.randrange(len(buf))
            buf[i : i + rng.randint(1, 64)] = b""
        elif op == 4:  # duplicate a slice elsewhere (cycles, dup objects)
            i = rng.randrange(len(buf))
            chunk = bytes(buf[i : i + rng.randint(1, 128)])
            j = rng.randrange(len(buf) + 1)
            buf[j:j] = chunk
        elif op == 5:  # scribble over a number (offsets, lengths, refs)
            i = rng.randrange(len(buf))
            buf[i : i + 10] = b"%010d" % rng.randrange(10**9)
        else:  # corrupt or re-wrap a flate region
            i = buf.find(b"stream")
            if i >= 0:
                buf[i + 7 : i + 15] = bytes(rng.randrange(256) for _ in range(8))
    return bytes(buf)


def main(seconds: float) -> int:
    rng = random.Random(0x5EED)
    seeds = _seeds()
    deadline = time.monotonic() + seconds
    n = 0
    while time.monotonic() < deadline:
        pdf = _mutate(rng, rng.choice(seeds))
        if rng.random() < 0.02:  # pure-noise case
            pdf = bytes(rng.randrange(256) for _ in range(rng.randrange(2048)))
        if rng.random() < 0.02:  # valid-flate-garbage-inside case
            pdf = pdf[:200] + zlib.compress(pdf) + pdf[200:]
        try:
            lines = pdf_to_text_lines(pdf)
            assert isinstance(lines, list)
            assert all(isinstance(x, str) for x in lines)
        except AssertionError:
            raise
        except Exception as exc:  # noqa: BLE001 — the property under test
            path = "/tmp/fuzz_pdf_crash.bin"
            with open(path, "wb") as fh:
                fh.write(pdf)
            print(f"CRASH after {n} cases: {type(exc).__name__}: {exc}; input -> {path}")
            return 1
        n += 1
    print(f"ok: {n} cases, 0 failures")
    return 0


if __name__ == "__main__":
    sys.exit(main(float(sys.argv[1]) if len(sys.argv) > 1 else 60.0))
