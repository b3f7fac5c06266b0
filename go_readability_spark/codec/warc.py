"""Minimal stdlib WARC/1.x codec: crawl archives → (record headers, body)
→ decoded HTML pages.

WARC is the container CommonCrawl-style corpora arrive in; the reference
has no archive path at all (its only source is one HTTP fetch,
cmd/readability.go:47-51), so this is an engine capability, not parity.
Same graceful-degradation contract as ``codec/pdf.py``: malformed
records are skipped, never raised out of a Spark task — garbage input
yields zero documents, not a failed stage.

Envelope: WARC/1.0-1.1 plaintext and whole-file gzip (including the
standard per-record multi-member .warc.gz — ``gzip.decompress`` inflates
all members).  Response records only; HTML content-types only; charset
from the HTTP Content-Type header, utf-8 otherwise, undecodable bytes
replaced.
"""

from __future__ import annotations

import gzip
import hashlib
import re
import zlib
from collections.abc import Iterator

_GZIP_MAGIC = b"\x1f\x8b"
# optional quote: RFC 9110 allows the quoted-string form
# (charset="windows-1251"), common in the wild
_CHARSET_RX = re.compile(r"charset=\"?([A-Za-z0-9_.-]+)")


def warc_records(payload: bytes) -> Iterator[tuple[dict[str, str], bytes]]:
    """Yield (headers, body) per record.  Headers are lower-cased names;
    records with unparseable lengths are skipped by resync on the next
    version line."""
    if payload[:2] == _GZIP_MAGIC:
        try:
            payload = gzip.decompress(payload)
        # gzip raises EOFError (truncated member) and zlib.error (mid-stream
        # corruption) as well as OSError/BadGzipFile — all three mean the
        # same thing under the skip-malformed contract: zero documents.
        except (OSError, EOFError, zlib.error):
            return
    i, n = 0, len(payload)
    while i < n:
        if not payload.startswith(b"WARC/", i):
            j = payload.find(b"\r\nWARC/", i)
            if j < 0:
                return
            i = j + 2
        head_end = payload.find(b"\r\n\r\n", i)
        if head_end < 0:
            return
        headers: dict[str, str] = {}
        for line in payload[i:head_end].split(b"\r\n")[1:]:
            name, sep, value = line.partition(b":")
            if sep:
                headers[name.decode("latin-1").strip().lower()] = value.decode(
                    "latin-1"
                ).strip()
        body_start = head_end + 4
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            i = body_start
            continue
        if length < 0 or body_start + length > n:
            i = body_start
            continue
        yield headers, payload[body_start : body_start + length]
        i = body_start + length
        while payload.startswith(b"\r\n", i):
            i += 2


def http_response_html(body: bytes) -> str | None:
    """HTTP response bytes (a WARC response record's block) → decoded HTML,
    or None for non-HTTP / non-HTML / truncated payloads."""
    head_end = body.find(b"\r\n\r\n")
    if head_end < 0:
        return None
    lines = body[:head_end].decode("latin-1", "replace").split("\r\n")
    if not lines or not lines[0].upper().startswith("HTTP/"):
        return None
    ctype = ""
    for line in lines[1:]:
        name, sep, value = line.partition(":")
        if sep and name.strip().lower() == "content-type":
            ctype = value.strip().lower()
    # no Content-Type at all (redirect bodies, misconfigured servers) is
    # NOT html — decoding arbitrary binary with replacement would inject
    # mojibake documents into the corpus
    if "html" not in ctype:
        return None
    charset = "utf-8"
    m = _CHARSET_RX.search(ctype)
    if m:
        charset = m.group(1)
    raw = body[head_end + 4 :]
    try:
        return raw.decode(charset, "replace")
    # LookupError: an unknown charset.  UnicodeError: a codec that cannot
    # decode with "replace" (idna, undefined, punycode) raises anyway.
    except (LookupError, UnicodeError):
        return raw.decode("utf-8", "replace")


def warc_html_pages(
    payload: bytes, archive_id: str = ""
) -> Iterator[tuple[str, str, str]]:
    """One WARC file's bytes → (record_id, target_uri, html) per HTML
    response record — the shape ``spark/corpus.ingest_warc_documents``
    fans out over.

    ``archive_id`` scopes the fallback doc_id for records that carry no
    WARC-Record-ID: record indexes restart at 0 in every archive, so a
    bare ``record-{idx}`` would collide across the many archives one
    ingest job fans out over.  When the caller has no stable identity
    (e.g. no file path), a payload digest stands in."""
    fallback_scope: str | None = archive_id or None
    for idx, (headers, body) in enumerate(warc_records(payload)):
        if headers.get("warc-type") != "response":
            continue
        html = http_response_html(body)
        if html is None:
            continue
        rec_id = headers.get("warc-record-id")
        if not rec_id:
            if fallback_scope is None:
                fallback_scope = hashlib.md5(payload).hexdigest()[:12]
            rec_id = f"{fallback_scope}/record-{idx}"
        yield rec_id, headers.get("warc-target-uri", ""), html
