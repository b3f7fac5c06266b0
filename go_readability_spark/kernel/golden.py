"""Golden-corpus runner: evaluate the kernel against the reference's 119
fixtures (reference: readability_test.go:90-200).

Each fixture runs with base URI ``http://fakehost/test/page.html`` and
``ClassesToPreserve("caption")`` (readability_test.go:92-100).  Content
equality is exact span-sequence equality ``(kind, text, media_ref, order)``
over the normalized output codec: the engine side is ``dom_to_spans`` over
the article DOM ``parse_document`` returns (exactly what ``extract_one``
emits), the expected side is the same walk over a parse of the fixture's
expected.html; metadata fields are compared exactly (missing JSON keys ==
empty string / false).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from ..codec.spans import dom_to_spans, html_fragment_to_normalized_spans
from .options import Options
from .readability import parse_document
from .readerable import is_probably_readerable

FIXTURES_DIR = "/root/reference/testdata/test-pages"
BASE_URI = "http://fakehost/test/page.html"

METADATA_FIELDS = (
    ("title", "title"),
    ("byline", "byline"),
    ("dir", "dir"),
    ("lang", "lang"),
    ("excerpt", "excerpt"),
    ("siteName", "site_name"),
    ("publishedTime", "published_time"),
)


@dataclass
class FixtureResult:
    name: str
    content_ok: bool = False
    metadata_ok: bool = False
    readerable_ok: bool = False
    error: str = ""
    diffs: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return self.content_ok and self.metadata_ok and self.readerable_ok and not self.error


def list_fixtures(root: str = FIXTURES_DIR) -> list[str]:
    return sorted(
        d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))
    )


def run_fixture(name: str, root: str = FIXTURES_DIR, check_readerable: bool = True) -> FixtureResult:
    fr = FixtureResult(name=name)
    base = os.path.join(root, name)
    with open(os.path.join(base, "source.html"), encoding="utf-8") as f:
        source = f.read()
    with open(os.path.join(base, "expected.html"), encoding="utf-8") as f:
        expected_html = f.read()
    with open(os.path.join(base, "expected-metadata.json"), encoding="utf-8") as f:
        expected_meta = json.load(f)

    # the engine's own path: extract_one's parse_document + article walk
    result, article, status = parse_document(
        source, BASE_URI, Options(classes_to_preserve=["page", "caption"])
    )
    if result is None:
        fr.error = f"status {status}"
        return fr

    actual_spans = dom_to_spans(article)
    expected_spans = html_fragment_to_normalized_spans(expected_html)
    fr.content_ok = [s.as_tuple() for s in actual_spans] == [
        s.as_tuple() for s in expected_spans
    ]
    if not fr.content_ok:
        for i, (a, e) in enumerate(zip(actual_spans, expected_spans)):
            if a.as_tuple() != e.as_tuple():
                fr.diffs.append(f"span[{i}]: actual={a.as_tuple()!r} expected={e.as_tuple()!r}")
                if len(fr.diffs) >= 5:
                    break
        if len(actual_spans) != len(expected_spans):
            fr.diffs.append(
                f"span count: actual={len(actual_spans)} expected={len(expected_spans)}"
            )

    fr.metadata_ok = True
    for json_key, attr in METADATA_FIELDS:
        expected_value = expected_meta.get(json_key, "") or ""
        actual_value = getattr(result, attr) or ""
        if actual_value != expected_value:
            fr.metadata_ok = False
            fr.diffs.append(f"meta {json_key}: actual={actual_value!r} expected={expected_value!r}")

    if check_readerable:
        expected_readerable = bool(expected_meta.get("readerable", False))
        fr.readerable_ok = is_probably_readerable(source) == expected_readerable
        if not fr.readerable_ok:
            fr.diffs.append(
                f"readerable: actual={not expected_readerable} expected={expected_readerable}"
            )
    else:
        fr.readerable_ok = True
    return fr


def run_all(root: str = FIXTURES_DIR) -> list[FixtureResult]:
    return [run_fixture(name, root) for name in list_fixtures(root)]


if __name__ == "__main__":
    results = run_all()
    n_ok = sum(1 for r in results if r.ok)
    n_content = sum(1 for r in results if r.content_ok)
    n_meta = sum(1 for r in results if r.metadata_ok)
    n_readerable = sum(1 for r in results if r.readerable_ok)
    print(f"pass {n_ok}/{len(results)}  (content {n_content}, metadata {n_meta}, readerable {n_readerable})")
    for r in results:
        if not r.ok:
            flags = f"content={r.content_ok} meta={r.metadata_ok} readerable={r.readerable_ok}"
            print(f"FAIL {r.name}: {r.error or flags}")
            for d in r.diffs[:3]:
                print(f"    {d[:300]}")
