import pytest


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: scale-proof tests (bigger synthetic corpora)"
    )


@pytest.fixture(scope="session")
def spark():
    from go_readability_spark.spark.session import build_session

    s = build_session(cpus=4, app_name="tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def synth_pages():
    """``synth_pages(ids)`` → ``[(doc_id, html)]``: deterministic
    article-shaped ``synth_html`` pages, one per id (an id ≡ 499 mod 500 is
    a ×64 mega page).  Needs no reference checkout."""
    from go_readability_spark.spark.corpus import synth_html

    words = " ".join(f"word{i}" for i in range(120))
    return lambda ids: [(f"synth-{i}", synth_html(i, words, "en", "src")) for i in ids]


@pytest.fixture(scope="session")
def pages_to_documents(spark):
    """``pages_to_documents(pages)``: ``[(doc_id, html)]`` → a
    DOCUMENTS_SCHEMA frame, spans encoded on the driver."""
    from go_readability_spark.codec.spans import html_to_spans
    from go_readability_spark.spark.schema import DOCUMENTS_SCHEMA

    def make(pages):
        rows = [
            {"doc_id": d, "uri": None, "spans": [s.as_row() for s in html_to_spans(html)]}
            for d, html in pages
        ]
        return spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)

    return make
