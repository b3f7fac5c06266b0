"""Pluggable Options hooks (reference options.go:14-22,74-86,105-112):
serializer, html2text, visibility_checker — each must change the output
when supplied and leave defaults byte-identical when omitted."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_readability_spark.kernel.options import Options
from go_readability_spark.kernel.readability import Readability
from go_readability_spark.kernel.readerable import is_probably_readerable

FIXTURE = "/root/reference/testdata/test-pages/001/source.html"
URI = "http://fakehost/test/page.html"


def _src() -> str:
    with open(FIXTURE, encoding="utf-8") as f:
        return f.read()


@pytest.mark.requires_reference
def test_custom_serializer_replaces_inner_html():
    src = _src()
    default = Readability(src, URI).parse()

    def outer_serializer(node):
        # reference default is GetInnerHTML (options.go:33-35); a custom
        # serializer sees the same article Node and owns the output format
        return f"<custom>{len(node.get_inner_html())}</custom>"

    custom = Readability(src, URI, Options(serializer=outer_serializer)).parse()
    assert custom.html_content == f"<custom>{len(default.html_content)}</custom>"
    # text side unaffected: html2text not set → DOM GetTextContent
    assert custom.text_content == default.text_content


@pytest.mark.requires_reference
def test_custom_html2text_drives_text_and_length():
    src = _src()
    default = Readability(src, URI).parse()

    custom = Readability(
        src, URI, Options(html2text=lambda html: f"TEXT[{len(html)}]")
    ).parse()
    expected = f"TEXT[{len(default.html_content)}]"
    assert custom.text_content == expected
    # Length follows textContent (readability.go:2235): custom text → custom length
    assert custom.length == len(expected)
    assert default.text_content != expected


@pytest.mark.requires_reference
def test_custom_visibility_checker_gates_readerable():
    src = _src()
    assert is_probably_readerable(src) is True
    # a checker that declares every node invisible must veto readerability
    assert (
        is_probably_readerable(src, Options(visibility_checker=lambda n: False))
        is False
    )


@pytest.mark.requires_reference
def test_defaults_unchanged_when_hooks_unset():
    src = _src()
    a = Readability(src, URI).parse()
    b = Readability(src, URI, Options()).parse()
    assert (a.html_content, a.text_content, a.length) == (
        b.html_content,
        b.text_content,
        b.length,
    )
