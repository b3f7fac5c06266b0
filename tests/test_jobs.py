"""spark-submit job entry + packaging + mega-doc stress."""

import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_zip_builds():
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "package.py")],
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0
    zip_path = out.stdout.strip().splitlines()[-1]
    with zipfile.ZipFile(zip_path) as z:
        names = z.namelist()
    assert "go_readability_spark/spark/extract.py" in names
    assert "go_readability_spark/kernel/readability.py" in names
    assert not any("__pycache__" in n for n in names)


def test_extract_job_end_to_end(spark):
    """Drive jobs/extract_job.py in its own process, exactly as a
    spark-submit driver runs it (own JVM, own session lifecycle)."""
    from go_readability_spark.spark.corpus import fixture_documents

    root = tempfile.mkdtemp(prefix="grs_job_")
    try:
        inp, outp = f"{root}/in", f"{root}/out"
        fixture_documents(spark).limit(12).write.parquet(inp)

        out = subprocess.run(
            [
                sys.executable, os.path.join(REPO, "jobs", "extract_job.py"),
                "--input", inp, "--output", outp,
                "--run-id", "jobtest", "--n-buckets", "4", "--local-cpus", "4",
            ],
            capture_output=True, text=True, timeout=420,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        assert "4 buckets done" in out.stdout
        arts = spark.read.parquet(f"{outp}/articles")
        assert arts.count() == 12
        lineage = spark.read.parquet(f"{outp}/lineage")
        assert lineage.filter("status = 'done'").count() == 4
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_mega_doc_routes_and_extracts(spark):
    """A ~12 MB document extracts next to a small peer through the one
    extraction route (or degrades to a status row)."""
    from go_readability_spark.codec.spans import html_to_spans
    from go_readability_spark.spark.extract import route_and_extract
    from go_readability_spark.spark.schema import DOCUMENTS_SCHEMA

    para = "<p>" + "mega document body text with plenty of words. " * 40 + "</p>\n"
    html = "<html><body><article>" + para * 4000 + "</article></body></html>"
    assert len(html) > 7_000_000
    rows = [
        {"doc_id": "mega-1", "uri": None,
         "spans": [s.as_row() for s in html_to_spans(html)]},
        {"doc_id": "small-1", "uri": None,
         "spans": [{"kind": "markup", "text": "<html><body><article>" + para * 20 + "</article></body></html>",
                    "media_ref": "", "offset": 0}]},
    ]
    docs = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    out = {r.doc_id: r for r in route_and_extract(docs).collect()}
    assert set(out) == {"mega-1", "small-1"}
    assert out["small-1"].status == "ok"
    assert out["mega-1"].status == "ok" and out["mega-1"].length > 1_000_000


def test_hygiene_job_end_to_end():
    """hygiene_job over the sf0.001 documents table writes funnel,
    dup_pairs, dup_groups, keep_manifest, clean_corpus, contaminated,
    and sample_manifest outputs."""
    root = tempfile.mkdtemp(prefix="grs_hygiene_")
    try:
        out = subprocess.run(
            [
                sys.executable,
                os.path.join(os.path.dirname(os.path.dirname(__file__)), "jobs", "hygiene_job.py"),
                "--input", "/root/testdata/sf0.001/documents.parquet",
                "--output", root,
                "--local-cpus", "4",
            ],
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        assert "funnel rows" in out.stdout
        for sub in (
            "url_filter_verdicts",
            "funnel",
            "dup_pairs",
            "dup_groups",
            "keep_manifest",
            "split_manifest",
            "clean_corpus",
            "host_clean_corpus",
            "shaping_funnel",
            "contaminated",
            "sample_manifest",
            "scrubbed_corpus",
            "mixture_manifest",
        ):
            assert os.path.exists(os.path.join(root, sub, "_SUCCESS"))
        assert "contaminated docs" in out.stdout
    finally:
        shutil.rmtree(root, ignore_errors=True)
