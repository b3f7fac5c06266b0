"""Correctness gate: the engine's Spark output against the same kernel run
in-process (``spark.extract.extract_one``) on the same input documents.

Each output row is reduced to (status, title, digest of its spans).  The
gate requires every input document to have exactly one output row and
every row to equal the in-process result, which also makes the status
histograms equal.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import subprocess
import sys
import time
from collections import Counter

from go_readability_spark.kernel.options import Options

OPTIONS = Options(classes_to_preserve=["page", "caption"])


def package_digest(root: str) -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "go_readability_spark", "**", "*.py"), recursive=True)):
        with open(path, "rb") as f:
            h.update(path[len(root) :].encode() + f.read())
    return h.hexdigest()[:12]


def spans_digest(spans) -> str | None:
    if spans is None:
        return None
    h = hashlib.sha1()
    for s in spans:
        h.update(f"{s['kind']}\x1f{s['text']}\x1f{s['media_ref']}\x1f{s['offset']}\x1e".encode())
    return h.hexdigest()


def reassemble(spans) -> str:
    return "".join(s["text"] for s in sorted(spans, key=lambda s: s["offset"]))


def input_documents(workload: str, root: str) -> list[tuple[str, str | None, str]]:
    """(doc_id, uri, html) of every input document, decoded in-process
    with the engine's public codecs."""
    if workload != "crawl_archives":
        import pyarrow.parquet as pq

        rows = pq.read_table(os.path.join(root, "docs")).to_pylist()
        return [(r["doc_id"], r["uri"], reassemble(r["spans"])) for r in rows]
    from go_readability_spark.codec.pdf import page_pieces_from_lines, pdf_to_text_lines
    from go_readability_spark.codec.warc import warc_html_pages

    docs: list[tuple[str, str | None, str]] = []
    for path in sorted(glob.glob(os.path.join(root, "warc", "*"))):
        with open(path, "rb") as f:
            docs += list(warc_html_pages(f.read(), path))
    for path in sorted(glob.glob(os.path.join(root, "pdf", "*"))):
        with open(path, "rb") as f:
            lines = pdf_to_text_lines(f.read())
        docs.append((os.path.basename(path), None, "".join(page_pieces_from_lines(lines))))
    return docs


def summarize(row: dict) -> list:
    return [row["status"], row["title"], spans_digest(row["spans"])]


def _expect_shard(workload: str, root: str, prescreen: bool, shard: int, shards: int) -> dict:
    from go_readability_spark.spark.extract import extract_one

    docs = sorted(input_documents(workload, root), key=lambda d: -len(d[2]))
    rows, cpu = {}, 0.0
    for doc_id, uri, html in docs[shard::shards]:
        t0 = time.process_time()
        rows[doc_id] = summarize(extract_one(doc_id, html, uri, OPTIONS, prescreen))
        cpu += time.process_time() - t0
    return {"rows": rows, "kernel_cpu_s": cpu}


def expected(workload: str, root: str, prescreen: bool, procs: int, tmp: str) -> tuple[dict[str, list], float]:
    """doc_id → in-process (status, title, spans digest), and the kernel's
    summed CPU seconds, computed by ``procs`` child interpreters.  Each
    takes every ``procs``-th document in size order, so shards are even."""
    os.makedirs(tmp, exist_ok=True)
    outs = [os.path.join(tmp, f"shard-{i}.json") for i in range(procs)]
    children = [
        subprocess.Popen([sys.executable, __file__, workload, root, str(int(prescreen)), str(i), str(procs), out])
        for i, out in enumerate(outs)
    ]
    codes = [c.wait() for c in children]
    if any(codes):
        raise RuntimeError(f"in-process kernel shards exited with {codes}")
    rows, cpu = {}, 0.0
    for out in outs:
        with open(out) as f:
            part = json.load(f)
        rows.update(part["rows"])
        cpu += part["kernel_cpu_s"]
    return rows, cpu


def cached_expected(cache: str, workload: str, root: str, prescreen: bool, procs: int, fresh: bool):
    """``expected``, cached per inputs and engine source; ``fresh``
    recomputes (the traced run needs the kernel CPU on this host now)."""
    if not fresh and os.path.exists(cache):
        with open(cache) as f:
            blob = json.load(f)
        return blob["rows"], blob["kernel_cpu_s"]
    rows, cpu = expected(workload, root, prescreen, procs, cache + ".shards")
    with open(cache + ".tmp", "w") as f:
        json.dump({"rows": rows, "kernel_cpu_s": cpu}, f)
    os.replace(cache + ".tmp", cache)
    return rows, cpu


def compare(got_rows: list[dict], want: dict[str, list]) -> tuple[list[str], int]:
    """Problems found, and the number of failed documents (no output row,
    or status ``parse_error``)."""
    problems = []
    counts = Counter(r["doc_id"] for r in got_rows)
    dup = [d for d, n in counts.items() if n > 1]
    missing = [d for d in want if d not in counts]
    extra = [d for d in counts if d not in want]
    if dup:
        problems.append(f"{len(dup)} documents with more than one output row, e.g. {dup[:3]}")
    if missing:
        problems.append(f"{len(missing)} documents without an output row, e.g. {missing[:3]}")
    if extra:
        problems.append(f"{len(extra)} output rows for unknown documents, e.g. {extra[:3]}")
    got = {r["doc_id"]: summarize(r) for r in got_rows}
    hist_got = Counter(v[0] for v in got.values())
    hist_want = Counter(v[0] for v in want.values())
    if hist_got != hist_want:
        problems.append(f"status histogram {dict(hist_got)} != in-process {dict(hist_want)}")
    differ = [d for d in want if d in got and got[d] != want[d]]
    if differ:
        problems.append(f"{len(differ)} rows differ from in-process extract_one, e.g. {differ[:3]}")
    failed = len(missing) + sum(1 for v in got.values() if v[0] == "parse_error")
    return problems, failed


if __name__ == "__main__":
    # one shard of ``expected`` (the engine is on the inherited PYTHONPATH):
    # workload root prescreen shard shards out
    _w, _root, _pre, _i, _n, _out = sys.argv[1:]
    with open(_out, "w") as _f:
        json.dump(_expect_shard(_w, _root, _pre == "1", int(_i), int(_n)), _f)
