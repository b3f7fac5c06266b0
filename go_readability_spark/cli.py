"""CLI parity with the reference's cmd/readability (readability.go:30-64):
fetch-or-read one document, extract, print text or HTML.

    python -m go_readability_spark.cli page.html -u http://example.com/page -o html
    python -m go_readability_spark.cli http://example.com/page -o text

Single-document convenience wrapper over the same kernel the Spark engine
runs; `-o json` additionally dumps the full Result + output spans.
"""

from __future__ import annotations

import argparse
import json
import sys

from .codec.spans import html_fragment_to_normalized_spans
from .kernel.options import Options
from .kernel.readability import parse_document


def _pdf_to_page(payload: bytes) -> str:
    """PDF bytes → the same <p>-scaffold page ingest_pdf_documents builds
    (one shared piece builder in codec.pdf), so the kernel sees the
    identical document either path."""
    from .codec.pdf import page_pieces_from_lines, pdf_to_text_lines

    return "".join(page_pieces_from_lines(pdf_to_text_lines(payload)))


def _load(source: str, timeout: float) -> tuple[str, str]:
    if source.startswith(("http://", "https://")):
        from urllib.request import urlopen  # network may be unavailable; let it raise

        with urlopen(source, timeout=timeout) as resp:  # noqa: S310
            raw = resp.read()
            if raw[:5] == b"%PDF-":
                return _pdf_to_page(raw), source
            charset = resp.headers.get_content_charset() or "utf-8"
            return raw.decode(charset, errors="replace"), source
    with open(source, "rb") as f:
        raw = f.read()
    # as_uri(), not 'file://' + relpath: a relative path's first segment
    # would become the URL authority and corrupt every link rewrite
    from pathlib import Path

    file_uri = Path(source).resolve().as_uri()
    if raw[:5] == b"%PDF-":
        return _pdf_to_page(raw), file_uri
    return raw.decode("utf-8", errors="replace"), file_uri


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="go_readability_spark.cli")
    ap.add_argument("source", help="file path or http(s) URL")
    ap.add_argument("-u", "--uri", default=None, help="document URI for link resolution")
    ap.add_argument("-o", "--output", choices=["text", "html", "json"], default="html")
    ap.add_argument("--timeout", type=float, default=30.0)
    ap.add_argument("--check-readerable", action="store_true",
                    help="exit 2 if the page is probably not readerable")
    args = ap.parse_args(argv)

    html, default_uri = _load(args.source, args.timeout)
    uri = args.uri or default_uri

    result, _article, status = parse_document(
        html, uri, Options(), prescreen=args.check_readerable
    )
    if status == "not_readerable":
        print("document is probably not readerable", file=sys.stderr)
        return 2
    if result is None:
        print(f"extraction failed: {status}", file=sys.stderr)
        return 1

    if args.output == "text":
        print(result.text_content)
    elif args.output == "html":
        print(result.html_content)
    else:
        spans = [s.as_row() for s in html_fragment_to_normalized_spans(result.html_content)]
        print(
            json.dumps(
                {
                    "title": result.title,
                    "byline": result.byline,
                    "dir": result.dir,
                    "lang": result.lang,
                    "excerpt": result.excerpt,
                    "site_name": result.site_name,
                    "published_time": result.published_time,
                    "length": result.length,
                    "status": status,
                    "spans": spans,
                },
                ensure_ascii=False,
            )
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
