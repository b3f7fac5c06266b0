"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of the seed: the same seed writes the
same bytes.  Inputs are written before any clock starts and cached under
``<work>/inputs/<workload>-<seed>-<digest>``, where the digest covers this
file, so an edit to a generator can never reuse stale inputs.

Aggregate cost is held fixed across seeds on purpose.  Page sizes come
from a stratified grid and every mix share is an exact count; the seed
permutes which document gets which size and draws all of the text.  A
seed then changes the content but not how much work a pass holds, so
run-to-run spread measures the engine and the host, not the dice.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import random
import zlib
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# The word list of the sf0.1 documents.parquet text column.  The benchmark
# reads nothing outside its checkout, so it draws the same kind of text
# itself.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
# Words only some charsets can carry (crawl_archives mixes charsets).
LATIN1_WORDS = "café naïve résumé über façade señor déjà".split()
CYRILLIC_WORDS = "данные поток таблица запрос строка ключ окно".split()
CJK_WORDS = "数据 查询 表格 窗口 排序".split()

# Exactly DOCUMENTS_SCHEMA (go_readability_spark.spark.schema) in Arrow
# terms.  Offsets must be int32: an int64 offset fails analysis of the
# engine's JVM-side span reassembly.
SPAN_TYPE = pa.struct(
    [
        pa.field("kind", pa.string(), False),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32(), False),
    ]
)
DOCUMENTS_ARROW = pa.schema(
    [
        pa.field("doc_id", pa.string(), False),
        pa.field("uri", pa.string()),
        pa.field("spans", pa.list_(pa.field("element", SPAN_TYPE, False))),
    ]
)


# crawl_archives mix (per pass)
N_ARCHIVES = 3
HTML_PER_ARCHIVE = 12
OTHER_PER_ARCHIVE = 10  # request, warcinfo, metadata and non-HTML responses
N_PDF_MULTI = 10
N_PDF_SINGLE = 2


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    bypasses: str
    prescreen: bool
    docs: int  # documents in one pass
    # untimed passes between the setups (and the checked pass) and the
    # timed ones: a session's first passes run slow while the JVM compiles
    warm_passes: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "small_pages",
            "fixed per-document costs: JVM span reassembly, Arrow hop,"
            " per-row pandas and task overhead on ~2 KB pages",
            "readerable, PDF, WARC, pipeline writes",
            prescreen=False,
            docs=1200,
            warm_passes=4,
        ),
        Workload(
            "heavy_pages",
            "kernel cost: 50-300 KB pages with tables, deep wrappers,"
            " comments and 30% link farms, prescreen on",
            "PDF, WARC, pipeline writes",
            prescreen=True,
            docs=8,
            warm_passes=2,
        ),
        Workload(
            "crawl_archives",
            "WARC and PDF ingest into a documents table, then"
            " run_extraction with its articles, metrics and lineage writes",
            "readerable prescreen",
            prescreen=False,
            docs=N_ARCHIVES * HTML_PER_ARCHIVE + N_PDF_MULTI + N_PDF_SINGLE,
            # the first pass in a session runs 9-14 s and the next about
            # 15% above the steady 5.5 s; the one after that, ≈10% above,
            # is timed, and the median of the four or more timed passes in
            # a 20 s window leaves it out
            warm_passes=2,
        ),
    )
}

# Files per table: several per core so a pass has more tasks than cores
# (heavy_pages writes one file per page).
FILES_PER_TABLE = 16
# The warm-up set of a run's setup: one file (one task) per core, so every
# Python worker spawns, with little work in each.
WARM_FILES = 4


def generator_digest() -> str:
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


# -- text ------------------------------------------------------------------


def _words(rng: random.Random, n: int, extra: list[str] | None = None) -> list[str]:
    pool = VOCAB + (extra or [])
    return [rng.choice(pool) for _ in range(n)]


def _sentence(rng: random.Random, extra: list[str] | None = None) -> str:
    w = _words(rng, rng.randint(8, 18), extra)
    if rng.random() < 0.5:
        w[rng.randrange(2, len(w) - 1)] += ","
    s = " ".join(w)
    return s[:1].upper() + s[1:] + "."


def _paragraph(rng: random.Random, extra: list[str] | None = None) -> str:
    return " ".join(_sentence(rng, extra) for _ in range(rng.randint(3, 7)))


# -- small_pages: the synth_html page shape ------------------------------


def small_page(doc_no: int, words: list[str], lang: str, source: str) -> str:
    """One ~2 KB article page in the shape of ``spark.corpus.synth_html``:
    boilerplate the kernel must strip (nav, sidebar, comments, share,
    footer, script) around an article with interleaved media.  Every 500th
    page repeats its body 64 times (the engine's mega-doc share)."""
    title = " ".join(words[:5])
    rep = 64 if doc_no % 500 == 499 else 2 + doc_no % 3
    body = words * rep
    sentences = []
    for i in range(0, len(body), 13):
        chunk = " ".join(body[i : i + 13])
        sentences.append(chunk[:1].upper() + chunk[1:] + ("," if i % 3 else "") + ".")
    paras = [" ".join(sentences[i : i + 4]) for i in range(0, len(sentences), 4)]
    parts = [
        "<!DOCTYPE html>",
        f'<html lang="{lang}"><head>',
        f"<title>Doc {doc_no}: {title} | SynthSite</title>",
        f'<meta property="og:title" content="Doc {doc_no}: {title}"/>',
        '<meta property="og:site_name" content="SynthSite"/>',
        f'<meta name="author" content="Author {doc_no % 7}"/>',
        "</head><body>",
        '<nav><ul><li><a href="/home">Home</a></li><li><a href="/about">About</a></li>'
        '<li><a href="/archive">Archive</a></li></ul></nav>',
        '<div class="sidebar"><a href="/ad1">Sponsored thing one</a>'
        '<a href="/ad2">Sponsored thing two</a></div>',
        '<div id="main"><article>',
        f"<h1>Doc {doc_no}: {title}</h1>",
        f'<p class="byline">By Author {doc_no % 7}</p>',
    ]
    for i, p in enumerate(paras):
        parts.append(f"<p>{p}</p>")
        if i % 3 == 1:
            parts.append(f'<img src="/images/{source}/{doc_no}-{i}.jpg" alt="figure {i}"/>')
        if i % 7 == 5:
            parts.append(
                f'<figure><img src="/figures/{doc_no}-{i}.png"/>'
                f"<figcaption>Figure {i}</figcaption></figure>"
            )
    if doc_no % 11 == 3:
        parts.append(f'<iframe src="https://www.youtube.com/embed/v{doc_no}"></iframe>')
    parts += [
        "</article></div>",
        f'<div id="comments"><div class="comment">First comment on {doc_no}</div>'
        '<div class="comment">Totally agree with this</div></div>',
        '<div class="share"><a href="/share/fb">Share</a><a href="/share/tw">Tweet</a></div>',
        "<footer><p>Copyright SynthSite. All rights reserved.</p></footer>",
        "<script>var tracking = 1;</script>",
        "</body></html>",
    ]
    return "\n".join(parts)


def _small_docs(seed: int, n: int, tag: str) -> list[tuple[str, str, str]]:
    rng = random.Random(f"small_pages/{seed}/{tag}")
    langs = ["en", "en", "zh", "es", "fr", "de"]
    out = []
    for i in range(n):
        # 7-96 words: the 44-577 character text rows of sf0.1
        words = _words(rng, rng.randint(7, 96))
        html = small_page(i, words, langs[i % len(langs)], f"src{i % 20}")
        out.append((f"{tag}-{i:06d}", f"http://synth.example/src{i % 20}/{i}.html", html))
    return out


# -- heavy_pages ------------------------------------------------------------


_LAZY_GIF = "data:image/gif;base64,R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7"


def _links(rng: random.Random, n: int, prefix: str) -> str:
    return "".join(
        f'<li><a href="/{prefix}/{rng.randrange(10**6)}">{" ".join(_words(rng, rng.randint(1, 3)))}</a></li>'
        for _ in range(n)
    )


def _data_table(rng: random.Random, k: int) -> str:
    # shape from the block index, not the seed: tables are node-dense, so
    # their sizes set much of a page's kernel cost
    cols = 4 + k % 5
    rows = 6 + 7 * k % 15
    head = "".join(f"<th>{rng.choice(VOCAB)} {c}</th>" for c in range(cols))
    body = "".join(
        "<tr>"
        + "".join(
            f"<td>{rng.randint(0, 99999)}</td>" if c else f"<td>{rng.choice(VOCAB)}</td>"
            for c in range(cols)
        )
        + "</tr>"
        for _ in range(rows)
    )
    return (
        f'<table class="data"><caption>Table {k}: {" ".join(_words(rng, 4))}</caption>'
        f"<thead><tr>{head}</tr></thead><tbody>{body}</tbody></table>"
    )


def _lazy_image(rng: random.Random, k: int) -> str:
    base = f"/img/{rng.randrange(10**6)}-{k}"
    return (
        f'<img src="{_LAZY_GIF}" data-src="{base}.jpg" loading="lazy"'
        f' srcset="{base}-480.jpg 480w, {base}-960.jpg 960w" alt="{rng.choice(VOCAB)}"/>'
    )


def _comment_thread(rng: random.Random, budget: int) -> str:
    parts: list[str] = []
    size = 0
    depth = 0
    i = 0
    while size < budget:
        i += 1
        if depth < 4 and i % 3 == 1:
            parts.append('<div class="comment-replies">')
            depth += 1
        elif depth and i % 4 == 3:
            parts.append("</div>")
            depth -= 1
        c = (
            f'<div class="comment"><span class="comment-author">user{rng.randrange(1000)}</span>'
            f"<p>{' '.join(_sentence(rng) for _ in range(rng.randint(1, 3)))}</p>"
            '<a class="reply" href="#reply">Reply</a></div>'
        )
        parts.append(c)
        size += len(c)
    parts.append("</div>" * depth)
    return '<section id="comments" class="comments">' + "".join(parts) + "</section>"


def heavy_article(rng: random.Random, doc_no: int, target: int) -> str:
    """A real-page-sized article: deep wrapper nesting, a big nav and
    sidebar, data tables, lazy images and a comment thread around the
    article body, grown until the page reaches ``target`` characters."""
    depth = 8 + 22 * min(target, 300_000) // 300_000  # wrapper nesting grows with the page
    title = " ".join(_words(rng, 6))
    head = (
        f'<!DOCTYPE html><html lang="en"><head><title>{title} | HeavySite</title>'
        f'<meta property="og:title" content="{title}"/>'
        f'<meta name="description" content="{_sentence(rng)}"/>'
        "<style>.wrap{margin:0}.sidebar{float:right}</style>"
        "<script>window.dataLayer=[];</script></head><body>"
        f'<header><nav class="menu"><ul>{_links(rng, 40, "nav")}</ul></nav></header>'
    )
    wrappers = "".join(f'<div class="wrap-{i} container">' for i in range(depth))
    sidebar = (
        f'<aside class="sidebar"><ul>{_links(rng, 30, "side")}</ul>'
        '<div class="ad-slot"><a href="/ad">Advertisement</a></div></aside>'
    )
    tail_budget = target // 4
    article = [f"<main><article><h1>{title}</h1>", f'<p class="byline">By Writer {doc_no % 13}</p>']
    size = len(head) + len(wrappers) * 2 + len(sidebar) + tail_budget
    k = 0
    while size < target:
        k += 1
        if k % 5 == 0:
            block = f'<div class="wrap"><div class="inner"><p>{_paragraph(rng)}</p></div></div>'
        else:
            block = f"<p>{_paragraph(rng)}</p>"
        if k % 4 == 0:
            block += _data_table(rng, k)
        if k % 3 == 0:
            block += _lazy_image(rng, k)
        if k % 7 == 0:
            block += (
                f"<figure>{_lazy_image(rng, k)}"
                f"<figcaption>{_sentence(rng)}</figcaption></figure>"
            )
        article.append(block)
        size += len(block)
    article.append("</article>")
    return "".join(
        [
            head,
            wrappers,
            sidebar,
            *article,
            _comment_thread(rng, tail_budget),
            "</main>",
            "</div>" * depth,
            f'<footer><ul>{_links(rng, 20, "foot")}</ul></footer>',
            "<script>track();</script></body></html>",
        ]
    )


def link_farm(rng: random.Random, target: int) -> str:
    """A non-readerable page: link lists and tag clouds with no paragraph
    long enough to pass IsProbablyReaderable."""
    parts = [
        "<!DOCTYPE html><html><head><title>Link directory</title></head><body>",
        f'<div id="page"><div class="header"><nav><ul>{_links(rng, 30, "nav")}</ul></nav></div>',
        '<div class="content">',
    ]
    size = sum(map(len, parts))
    while size < target:
        block = (
            f'<h3>{" ".join(_words(rng, 2))}</h3><ul class="linklist">{_links(rng, 25, "dir")}</ul>'
            '<div class="tags">'
            + "".join(f'<a href="/tag/{w}">{w}</a> ' for w in _words(rng, 15))
            + "</div>"
        )
        parts.append(block)
        size += len(block)
    parts.append("</div></div></body></html>")
    return "".join(parts)


def _stratified(n: int, lo: float, hi: float) -> list[float]:
    return [lo + (hi - lo) * (i + 0.5) / n for i in range(n)]


def _heavy_docs(seed: int, n: int, tag: str, lo: int = 50_000, hi: int = 300_000) -> list[tuple[str, str, str]]:
    rng = random.Random(f"heavy_pages/{seed}/{tag}")
    farms = round(0.3 * n)
    # each kind gets its own size grid: a farm costs a fraction of an
    # article of the same size, so sizes must not move between kinds
    pages = [(True, s) for s in _stratified(farms, lo, hi)]
    pages += [(False, s) for s in _stratified(n - farms, lo, hi)]
    rng.shuffle(pages)
    out = []
    for i, (farm, size) in enumerate(pages):
        html = link_farm(rng, int(size)) if farm else heavy_article(rng, i, int(size))
        out.append((f"{tag}-{i:04d}", f"http://heavy.example/{i}.html", html))
    return out


# -- crawl_archives -----------------------------------------------------------


def _warc_record(rtype: str, block: bytes, uri: str | None, rec_id: str) -> bytes:
    head = [
        "WARC/1.0",
        f"WARC-Type: {rtype}",
        f"WARC-Record-ID: <urn:uuid:{rec_id}>",
        f"Content-Length: {len(block)}",
    ]
    if uri:
        head.append(f"WARC-Target-URI: {uri}")
    return ("\r\n".join(head) + "\r\n\r\n").encode() + block + b"\r\n\r\n"


def _http(body: bytes, ctype: str) -> bytes:
    return f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n\r\n".encode() + body


_CHARSETS = [  # (declared charset, extra words it can encode); utf-8 dominates
    ("utf-8", CJK_WORDS),
    ("utf-8", None),
    ("utf-8", None),
    ("iso-8859-1", LATIN1_WORDS),
    ("windows-1251", CYRILLIC_WORDS),
]


def _crawl_page(rng: random.Random, doc_no: int, extra: list[str] | None) -> str:
    if doc_no % 6 == 5:  # a share of real-page-sized records
        return heavy_article(rng, doc_no, 30_000 + (doc_no * 7919) % 30_000)
    words = _words(rng, rng.randint(20, 120), extra)
    return small_page(doc_no, words, "en", "crawl")


def _archive(
    rng: random.Random, a: int, tag: str, html: int = HTML_PER_ARCHIVE, other: int = OTHER_PER_ARCHIVE
) -> tuple[bytes, list[str]]:
    records = [_warc_record("warcinfo", b"software: perfbench\r\n", None, f"{tag}-{a}-info")]
    ids = []
    kinds = ["html"] * html + ["other"] * (other - 1)
    rng.shuffle(kinds)
    for j, kind in enumerate(kinds):
        uri = f"http://crawl{a}.example/{tag}/{j}"
        rid = f"{tag}-{a:02d}-{j:03d}"
        if kind == "html":
            charset, extra = _CHARSETS[j % len(_CHARSETS)]
            html = _crawl_page(rng, a * 100 + j, extra)
            block = _http(html.encode(charset), f"text/html; charset={charset}")
            records.append(_warc_record("response", block, uri, rid))
            ids.append(f"<urn:uuid:{rid}>")
        else:
            other = j % 4
            if other == 0:
                records.append(_warc_record("request", b"GET / HTTP/1.1\r\nHost: x\r\n\r\n", uri, rid))
            elif other == 1:
                body = bytes(rng.randrange(256) for _ in range(2048))
                records.append(_warc_record("response", _http(body, "image/jpeg"), uri, rid))
            elif other == 2:
                body = json.dumps({"k": _words(rng, 20)}).encode()
                records.append(_warc_record("response", _http(body, "application/json"), uri, rid))
            else:
                records.append(_warc_record("metadata", b"fetchTimeMs: 12\r\n", uri, rid))
    # per-record gzip members, as in CommonCrawl .warc.gz files
    payload = b"".join(gzip.compress(r, mtime=0) for r in records)
    return payload, ids


def _pdf(page_streams: list[bytes]) -> bytes:
    """A classic-xref PDF: catalog, page tree, one Helvetica font and one
    FlateDecode content stream per page."""
    buf = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    n = len(page_streams)
    font = 3
    first_page = 4
    first_content = first_page + n

    def obj(num: int, body: bytes) -> None:
        offsets[num] = len(buf)
        buf.extend(b"%d 0 obj\n" % num + body + b"\nendobj\n")

    obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    kids = b" ".join(b"%d 0 R" % (first_page + i) for i in range(n))
    obj(2, b"<< /Type /Pages /Count %d /Kids [%s] >>" % (n, kids))
    obj(font, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    for i in range(n):
        obj(
            first_page + i,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F1 3 0 R >> >> /Contents %d 0 R >>"
            % (first_content + i),
        )
    for i, s in enumerate(page_streams):
        data = zlib.compress(s)
        offsets[first_content + i] = len(buf)
        buf.extend(
            b"%d 0 obj\n<< /Length %d /Filter /FlateDecode >>\nstream\n" % (first_content + i, len(data))
            + data
            + b"\nendstream\nendobj\n"
        )
    size = first_content + n
    xref = len(buf)
    buf.extend(b"xref\n0 %d\n0000000000 65535 f \n" % size)
    for num in range(1, size):
        buf.extend(b"%010d 00000 n \n" % offsets[num])
    buf.extend(b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (size, xref))
    return bytes(buf)


def _content_stream(rng: random.Random, n_ops: int) -> bytes:
    lines = [b"BT /F1 11 Tf 14 TL 72 760 Td"]
    for _ in range(n_ops):
        lines.append(b"(%s) Tj T*" % _sentence(rng).encode("ascii"))
    lines.append(b"ET")
    return b"\n".join(lines)


def _pdfs(rng: random.Random, tag: str, multi: int = N_PDF_MULTI, single: int = N_PDF_SINGLE) -> list[tuple[str, bytes]]:
    """Mostly multi-page PDFs (3-12 pages, one content stream per page),
    plus single-stream PDFs of 1-3k show-text operators."""
    out = []
    for i, pages in enumerate(round(p) for p in _stratified(multi, 3, 12)):
        out.append((f"{tag}-multi-{i:02d}.pdf", _pdf([_content_stream(rng, rng.randint(25, 45)) for _ in range(pages)])))
    for i, ops in enumerate(round(o) for o in _stratified(single, 1000, 3000)):
        out.append((f"{tag}-single-{i:02d}.pdf", _pdf([_content_stream(rng, ops)])))
    rng.shuffle(out)
    return out


# -- writers ------------------------------------------------------------------


def write_documents(docs: list[tuple[str, str, str]], out_dir: str, files: int) -> None:
    """(doc_id, uri, html) → DOCUMENTS_SCHEMA parquet, ``files`` files,
    spans from the engine's own byte-preserving ingest codec."""
    from go_readability_spark.codec.spans import html_to_spans

    os.makedirs(out_dir, exist_ok=True)
    for k in range(files):
        part = docs[k::files]
        table = pa.Table.from_pydict(
            {
                "doc_id": [d[0] for d in part],
                "uri": [d[1] for d in part],
                "spans": [[s.as_row() for s in html_to_spans(d[2])] for d in part],
            },
            schema=DOCUMENTS_ARROW,
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{k:03d}.parquet"))


def _write_bytes(items: list[tuple[str, bytes]], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, data in items:
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)


def _generate(name: str, seed: int, root: str) -> dict:
    files = FILES_PER_TABLE
    if name == "small_pages":
        docs = _small_docs(seed, WORKLOADS[name].docs, "s")
        write_documents(docs, os.path.join(root, "docs"), files)
        write_documents(_small_docs(seed, 2 * WARM_FILES, "w"), os.path.join(root, "warm"), WARM_FILES)
        return {"doc_ids": [d[0] for d in docs]}
    if name == "heavy_pages":
        docs = _heavy_docs(seed, WORKLOADS[name].docs, "h")
        write_documents(docs, os.path.join(root, "docs"), len(docs))
        write_documents(_heavy_docs(seed, WARM_FILES, "w", hi=80_000), os.path.join(root, "warm"), WARM_FILES)
        return {"doc_ids": [d[0] for d in docs]}
    rng = random.Random(f"crawl_archives/{seed}")
    ids: list[str] = []
    archives = []
    for a in range(N_ARCHIVES):
        payload, rec_ids = _archive(rng, a, f"c{seed}")
        archives.append((f"archive-{a:02d}.warc.gz", payload))
        ids += rec_ids
    pdfs = _pdfs(rng, "c")
    _write_bytes(archives, os.path.join(root, "warc"))
    _write_bytes(pdfs, os.path.join(root, "pdf"))
    # warm-up set: small archives and PDFs, WARM_FILES in all
    warm = [(f"warm-{a}.warc.gz", _archive(rng, a, "warm", html=4, other=2)[0]) for a in range(WARM_FILES // 2)]
    _write_bytes(warm, os.path.join(root, "warm", "warc"))
    _write_bytes(_pdfs(rng, "w", WARM_FILES - len(warm), 0), os.path.join(root, "warm", "pdf"))
    return {"doc_ids": ids + [p[0] for p in pdfs]}


def materialize(name: str, seed: int, work: str) -> tuple[str, dict]:
    """Write (or reuse) the inputs of one workload and seed; returns the
    input root and its manifest (``doc_ids``: every input document)."""
    root = os.path.join(work, "inputs", f"{name}-{seed}-{generator_digest()}")
    manifest_path = os.path.join(root, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = root + ".partial"
        if os.path.exists(tmp):
            import shutil

            shutil.rmtree(tmp)
        manifest = _generate(name, seed, tmp)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, root)
    with open(manifest_path) as f:
        return root, json.load(f)
