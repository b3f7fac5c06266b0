"""Full 119-fixture golden parity THROUGH the Spark boundary: every golden
page goes in as spans, through mapInArrow, and must come out with exact
span-sequence equality and all seven metadata fields (~20 s)."""

import json
import os

import pytest

from go_readability_spark.codec.spans import html_fragment_to_normalized_spans
from go_readability_spark.kernel.golden import FIXTURES_DIR
from go_readability_spark.spark.corpus import fixture_documents
from go_readability_spark.spark.extract import extract_articles


@pytest.mark.requires_reference
def test_full_corpus_span_and_metadata_parity(spark):
    rows = {r.doc_id: r for r in extract_articles(fixture_documents(spark)).collect()}
    assert len(rows) == 119
    failures = []
    for name, row in rows.items():
        if row.status != "ok":
            failures.append(f"{name}: status={row.status}")
            continue
        with open(os.path.join(FIXTURES_DIR, name, "expected.html"), encoding="utf-8") as f:
            expected = [s.as_tuple() for s in html_fragment_to_normalized_spans(f.read())]
        got = [(s.kind, s.text, s.media_ref, s.offset) for s in row.spans]
        if got != expected:
            failures.append(f"{name}: span mismatch")
            continue
        with open(
            os.path.join(FIXTURES_DIR, name, "expected-metadata.json"), encoding="utf-8"
        ) as f:
            meta = json.load(f)
        for json_key, attr in (
            ("title", "title"), ("byline", "byline"), ("dir", "dir"),
            ("lang", "lang"), ("excerpt", "excerpt"), ("siteName", "site_name"),
            ("publishedTime", "published_time"),
        ):
            if (getattr(row, attr) or "") != (meta.get(json_key, "") or ""):
                failures.append(f"{name}: meta {json_key}")
                break
    assert not failures, failures[:10]
