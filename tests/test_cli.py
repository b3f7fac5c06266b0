"""CLI parity tests (reference: cmd/readability/readability.go:30-64)."""

import json
import subprocess
import sys

import pytest

FIXTURE = "/root/reference/testdata/test-pages/001/source.html"


def run_cli(*args):
    return subprocess.run(
        [sys.executable, "-m", "go_readability_spark.cli", *args],
        capture_output=True, text=True, timeout=120,
    )


@pytest.mark.requires_reference
def test_cli_html_output():
    r = run_cli(FIXTURE, "-u", "http://fakehost/test/page.html", "-o", "html")
    assert r.returncode == 0
    assert "<p>" in r.stdout


@pytest.mark.requires_reference
def test_cli_text_output():
    r = run_cli(FIXTURE, "-u", "http://fakehost/test/page.html", "-o", "text")
    assert r.returncode == 0
    assert "JavaScript" in r.stdout and "<p>" not in r.stdout


@pytest.mark.requires_reference
def test_cli_json_output():
    r = run_cli(FIXTURE, "-u", "http://fakehost/test/page.html", "-o", "json")
    assert r.returncode == 0
    data = json.loads(r.stdout)
    assert data["title"] == "Get your Frontend JavaScript Code Covered | Code"
    assert data["status"] == "ok" and data["length"] > 1000
    assert data["spans"] and all("kind" in s for s in data["spans"])


def test_cli_pdf_input(tmp_path):
    """A %PDF- payload routes through the text-layer codec into the same
    kernel path as HTML (magic-byte sniff, not extension)."""
    sys.path.insert(0, "/root/repo/tests")
    from test_pdf import _minimal_pdf

    paras = b"".join(
        b"BT 72 %d Td (Paragraph %d of the PDF body, full of readable words "
        b"that the scorer keeps together in the article, with commas, and "
        b"enough length to score well.) Tj ET\n" % (700 - 14 * i, i)
        for i in range(12)
    )
    p = tmp_path / "doc.pdf"
    p.write_bytes(_minimal_pdf(paras, flate=True))
    r = run_cli(str(p), "-o", "text")
    assert r.returncode == 0
    assert "Paragraph 3 of the PDF body" in r.stdout


def test_cli_readerable_gate(tmp_path):
    p = tmp_path / "tiny.html"
    p.write_text("<html><body><p>hi</p></body></html>")
    r = run_cli(str(p), "--check-readerable")
    assert r.returncode == 2


def test_relative_path_gets_wellformed_file_uri(tmp_path, monkeypatch):
    """A relative source path must become a proper file:///abs URI, not
    file://<relpath> whose first segment would be parsed as the URL
    authority and corrupt link rewrites."""
    import json
    import os

    from go_readability_spark.cli import main

    page = tmp_path / "Page.html"
    page.write_text(
        "<html><body><div>"
        + "<p>Some long enough article body text here, repeated. " * 10
        + '<a href="next.html">next</a></p></div></body></html>'
    )
    monkeypatch.chdir(tmp_path)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["Page.html", "-o", "json"])
    assert rc == 0
    out = json.loads(buf.getvalue())
    html = "".join(s["text"] for s in sorted(out["spans"], key=lambda s: s["offset"]))
    # the rewritten link resolves against the real absolute file URI
    # (the kernel serializes non-http schemes as 'scheme:' + path,
    # reference-faithful) — never against file://<relpath>, whose first
    # segment would have been parsed as the URL authority
    assert f'href="file:{tmp_path}/next.html"' in html
    assert "page.html/next" not in html.lower()
