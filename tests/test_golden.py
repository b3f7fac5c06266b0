"""Golden-corpus end-to-end tests over the reference's 119 fixtures.

Mirrors readability_test.go:90-200: per fixture, extraction runs with base
URI http://fakehost/test/page.html and ClassesToPreserve("caption"); the
article is compared by exact span-sequence equality (kind, text, media_ref,
order) and the 7 metadata fields plus the IsProbablyReaderable flag are
compared exactly.
"""

import pytest

from go_readability_spark.kernel.golden import run_fixture


@pytest.mark.requires_reference
def test_golden_fixture(golden_name):
    fr = run_fixture(golden_name)
    assert not fr.error, fr.error
    detail = "\n".join(fr.diffs[:5])
    assert fr.content_ok, f"content span mismatch:\n{detail}"
    assert fr.metadata_ok, f"metadata mismatch:\n{detail}"
    assert fr.readerable_ok, f"readerable mismatch:\n{detail}"
