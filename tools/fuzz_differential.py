"""Extended differential fuzz over the input codec and the HTML tokenizer.

Reuses the strongest invariants in the suite, at open-ended volume:

* tokenizer equivalence: ``_scan`` must build the exact tree the stock
  ``html.parser`` feed() + close() path builds, or raise AssertionError
  exactly where the stock parser raises
  (tests/test_fastscan.py::_assert_equivalent);
* codec soundness: ``html_to_spans`` must byte-preserve on re-serialize
  and its media spans must equal the stock parser's media start-tag
  events, up to where it raises (tests/test_codec.py::_assert_media_subseq);
* one DOM per document (``_assert_one_dom``): ``is_probably_readerable``
  equals ``scan_readerable`` over ``parse_html(html, uri)`` for any uri,
  and ``parse_document(prescreen=True)`` gives the two-step status --
  ``not_readerable`` exactly when the standalone check is false, else the
  ``prescreen=False`` status;
* release never touches the returned article
  (``_assert_release_keeps_article``): the soup as a page and wrapped in
  an article page extracts, prescreen off and on, to the same
  ``extract_one`` row with ``dom.release`` real or a no-op, and the
  article ``parse_document`` returns has no parent;
* one walk per article (``_assert_one_walk``): the soup, wrapped in an
  article page, that ``parse_document`` extracts has
  ``dom_to_spans(article)`` equal to the reparse of its serialized form,
  ``html_fragment_to_normalized_spans(result.html_content)``, unless the
  article is in the residual class (``_residual``: the serialized article
  does not parse back into the article's tree, and the walk emits what
  the article holds).  Residual cases are counted.

Inputs: random fragment soup over an adversarial alphabet plus mutated
slices of the real golden pages (deterministic ``synth_html`` pages when
the golden corpus is absent).  Usage::

    python tools/fuzz_differential.py [seconds=600] [seed=20260818]

Prints ``N cases, F failures, R walk residuals`` and any failing input.
The r4 closing session ran 5,461,164 cases with 0 failures (~15 min).
"""

from __future__ import annotations

import glob
import importlib.util
import os
import random
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from go_readability_spark.codec.spans import (  # noqa: E402
    dom_to_spans,
    html_fragment_to_normalized_spans,
)
from go_readability_spark.kernel import readability  # noqa: E402
from go_readability_spark.kernel.dom import (  # noqa: E402
    CDATA_CONTENT_ELEMENTS,
    ELEMENT_NODE,
    parse_html,
    release,
)
from go_readability_spark.kernel.options import Options  # noqa: E402
from go_readability_spark.kernel.readability import parse_document  # noqa: E402
from go_readability_spark.kernel.readerable import (  # noqa: E402
    is_probably_readerable,
    scan_readerable,
)
from go_readability_spark.spark import extract  # noqa: E402
from go_readability_spark.spark.extract import extract_one  # noqa: E402

_OPTIONS = Options(classes_to_preserve=["page", "caption"])


def _load(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


FRAGS = [
    "<img src=a.png>", '<img src="b>c.png">', "<p title=\"<img src=e.png>\">",
    "<!-- <img src=f.png> -->", "<![CDATA[<img src=g.png>]]>", "<style>", "</style>",
    "<title>", "</title>", "<script>", "</script>", "<textarea>", "</textarea>",
    "<xmp>", "</xmp>", "<iframe>", "</iframe>", "<noembed>", "</noembed>",
    "<?pi <img src=h.png> ?>", "</p onx=\"<img src=i.png>\">", "text ", "<", ">",
    '"', "'", "=", "/", "!", "-", "--", "<!--", "-->", "<!", "<![if x]>", "<![endif]>",
    "<!doctype html>", "<div a=\"1\"b=\"2\">", "<img src=o.png src>", "<img src==p.png>",
    '<img altsrc/=a&amp;b=">', "<!--unterminated <img src=q.png>", '<p a="bx> ',
    "<a0:img src=ns.png>", "src=", ",", "&amp;", "&#x2713;", "&bogus;", "&#65;",
    "<video src='k.mp4'>", "<audio src=s.ogg>", "<source srcset='x 2x'>",
    "<picture>", "</picture>", "<figure>", "</figure>", "<embed src=e.swf>",
    "<br/>", "<br />", "<hr/>", "<div =bare>", "<a b==c>", "<a b=>", "<div/ >",
    "<span attr = \"v\" >", "<div a='1' a='2'>", "über ✓ 漢字 ", "\x00", "\r\n", "\t",
    "<p CLASS=UPPER>", "</P>", "<DIV>", "</DIV>", "<ns:tag>", "</ns:tag>",
    "<my-tag x=1>", "</my-tag>", "<noscript>", "</noscript>", "<a href=/rel>",
    "<a href=\"?a=1&amp;b=2\">", "<meta charset=utf-8/>", "<link rel=icon>",
    "<base href=http://x/>", "<input value='<img src=v.png>'>", "]]>", "?>",
    "<p data-x=\"unterminated", "<td colspan=2>", "<table>", "</table>",
    # r4 ADVICE recall classes, kept in the alphabet so long runs keep
    # exploring them (pinned cases: tests/test_codec.py CDATA-comment and
    # quote-in-bare-value): comment markers inside raw-text content, and
    # quote characters inside unquoted attribute values
    "<style>/* <!-- */</style>", "<!--\"<video></video>", "<![CDATA[ x <p></p>",
    "<img alt=it's src=l.png>", "<img alt=he\"said src=m.png>",
    "<script><!-- '</script>' --></script>", "<style><!--", "<a b=c'd>",
    "<img alt=\"x src=bare'quote.png>",
    # a prefixed raw-text name: the element is a <title> whose content
    # was tokenized as markup
    "<svg:title>", "</svg:title>",
    # constructs only the exact html.parser paths tokenize: malformed end
    # tags, bogus comments, '='-soup attrs, and the marked sections the
    # stock parser raises on
    "</>", "</ p>", "</3>", "<!x>", "<a b = = c>", "<a\xa0b>", "<![ bad]]>", "<![x[",
]

# structural wrappers: embed ANY generated soup inside a comment, CDATA
# section, raw-text element, or an unquoted attribute value — the two r4
# recall classes generalized to generators rather than fixed strings
_RAW_TEXT_TAGS = ["style", "script", "title", "textarea", "xmp", "iframe"]


def _wrap(rng: random.Random, s: str) -> str:
    mode = rng.randrange(5)
    if mode == 0:
        return f"<!--{s}-->"
    if mode == 1:
        return f"<![CDATA[{s}]]>"
    if mode == 2:
        t = rng.choice(_RAW_TEXT_TAGS)
        return f"<{t}>{s}</{t}>"
    if mode == 3:  # quote-in-bare-value: soup becomes an unquoted attr value
        payload = s.replace(" ", "").replace(">", "")[:40] or "x'y"
        return f"<img alt={payload} src=wrapped.png>"
    return f"<!--{s}"  # unterminated comment swallowing the soup


# document URIs the one-DOM check parses under: the scan must not depend
# on the URI the extraction resolves links against
_URIS = ["http://fakehost/test/page.html", "file:///srv/a%20b/page.html?q=1#f", "::not a uri"]


def _assert_one_dom(s: str) -> None:
    try:
        standalone = is_probably_readerable(s)
    except Exception:
        standalone = None  # the two-step workflow lets the full parse decide
    if standalone is not None:
        for uri in _URIS:
            scanned = scan_readerable(parse_html(s, uri))
            assert scanned == standalone, f"scan under {uri!r}: {scanned}, standalone {standalone}"
    uri = _URIS[len(s) % len(_URIS)]
    gated = parse_document(s, uri, prescreen=True)[2]
    want = "not_readerable" if standalone is False else parse_document(s, uri)[2]
    assert gated == want, f"prescreen status {gated!r}, two-step {want!r}"


_FILL = "The quick brown fox jumps over the lazy dog, again and again. " * 8
# text the tokenizer reads as markup
_MARKUP_IN_TEXT = re.compile(r"<[a-zA-Z/!?]")


def _residual(article) -> bool:
    """True when the serialized article does not parse back into the
    article's own tree, so the reparse cannot equal the walk:

    * a text run (grouped as ``dom_to_spans`` groups them) serializes to
      text the tokenizer reads as markup (``<p a="bx> <img src=x.png>``);
    * an element's local name does not start with an ASCII letter
      (``<ns:&tag>`` keeps ``&tag``), so its serialized tag reads as text;
    * an element is named ``html``: the reparse's root cleanup
      (domparser.go:1142-1153) keeps only that element;
    * an element named like a raw-text element (``<svg:title>`` keeps
      ``title``) holds an element, which the reparse reads as raw text.
    """
    run: list[str] = []
    stack = list(reversed(article.child_nodes))
    while stack:
        n = stack.pop()
        if n is None or n.node_type == ELEMENT_NODE and n.local_name:
            if _MARKUP_IN_TEXT.search("".join(run)):
                return True
            run.clear()
        if n is None:
            continue
        if n.node_type != ELEMENT_NODE:
            run.append(n.get_inner_html())
            continue
        local = n.local_name
        if local and (
            not ("a" <= local[0] <= "z")
            or local == "html"
            or local in CDATA_CONTENT_ELEMENTS and n.children
        ):
            return True
        if local:
            stack.append(None)
        stack.extend(reversed(n.child_nodes))
    return bool(_MARKUP_IN_TEXT.search("".join(run)))


def _assert_one_walk(s: str) -> bool:
    """True when ``s``, wrapped in an article page, extracts to an article
    in the residual class whose walk differs from its reparse."""
    if len(s) % 2:
        page = f"<html><body><article><p>{_FILL}</p>{s}<p>{_FILL}</p></article></body></html>"
    else:
        page = f"<html><body><article><p>{_FILL}{s}{_FILL}</p><p>{_FILL}</p></article></body></html>"
    result, article, status = parse_document(page, _URIS[0])
    if status != "ok":
        return False
    walk = [x.as_tuple() for x in dom_to_spans(article)]
    reparse = [x.as_tuple() for x in html_fragment_to_normalized_spans(result.html_content)]
    if walk == reparse:
        return False
    assert _residual(article), f"walk {walk} != reparse {reparse}"
    return True


def _noop_release(root) -> None:
    pass


def _extract(page: str, prescreen: bool) -> dict:
    row = extract_one("d", page, _URIS[0], _OPTIONS, prescreen)
    spans = row["spans"]
    return {**row, "spans": None if spans is None else [x.as_tuple() for x in spans]}


def _assert_release_keeps_article(s: str) -> None:
    """``s`` as a page and wrapped in an article page: the document and the
    dropped grab attempts ``parse_document`` releases never reach the
    article it returns, so every ``extract_one`` field equals the one
    built with ``release`` a no-op, and the article is detached."""
    for page in (s, f"<html><body><article><p>{_FILL}</p>{s}</article></body></html>"):
        for prescreen in (False, True):
            article = parse_document(page, _URIS[0], _OPTIONS, prescreen)[1]
            assert article is None or article.parent_node is None, "article attached"
            released = _extract(page, prescreen)
            readability.release = extract.release = _noop_release
            try:
                kept = _extract(page, prescreen)
            finally:
                readability.release = extract.release = release
            assert released == kept, f"released {released} != kept {kept}"


def main() -> int:
    seconds = float(sys.argv[1]) if len(sys.argv) > 1 else 600.0
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 20260818

    fs = _load("_fuzz_fastscan", os.path.join(REPO, "tests", "test_fastscan.py"))
    tc = _load("_fuzz_codec", os.path.join(REPO, "tests", "test_codec.py"))

    pages = []
    for d in sorted(glob.glob("/root/reference/testdata/test-pages/*"))[:25]:
        src = os.path.join(d, "source.html")
        if os.path.exists(src):
            pages.append(open(src, encoding="utf-8", errors="replace").read())
    if not pages:
        from go_readability_spark.spark.corpus import synth_html

        words = " ".join(f"word{i}" for i in range(120))
        pages = [synth_html(i, words, "en", "src") for i in range(25)]

    rng = random.Random(seed)
    deadline = time.time() + seconds
    n = fails = residuals = 0
    while time.time() < deadline:
        n += 1
        mode = rng.random()
        if mode < 0.6 or not pages:
            s = "".join(rng.choice(FRAGS) for _ in range(rng.randint(0, 14)))
        elif mode < 0.85:
            p = rng.choice(pages)
            a = rng.randrange(0, max(1, len(p) - 400))
            s = p[a : a + rng.randint(10, 400)]
            if rng.random() < 0.5:
                s += rng.choice(FRAGS)
        else:
            # big slices keep enough real document structure (doctype +
            # <html> roots, raw-text elements with their closers) to reach
            # tree-level interactions the 400-char windows miss — this mode
            # found the root-cleanup false-failure class the smaller modes
            # ran 11M cases without touching
            p = rng.choice(pages)
            a = rng.randrange(0, max(1, len(p) - 2500))
            s = p[a : a + rng.randint(500, 2500)]
            if rng.random() < 0.4 and s:
                i = rng.randrange(len(s))
                s = s[:i] + rng.choice(FRAGS) + s[i:]
        if rng.random() < 0.2 and s:
            i = rng.randrange(len(s))
            s = s[:i] + rng.choice("<>\"'=&;!-/ ") + s[i:]
        if rng.random() < 0.12:
            s = _wrap(rng, s) + (rng.choice(FRAGS) if rng.random() < 0.5 else "")
        checks = (fs._assert_equivalent, tc._assert_media_subseq, _assert_one_dom, _assert_one_walk,
                  _assert_release_keeps_article)
        for check in checks:
            try:
                if check(s) is True and check is _assert_one_walk:
                    residuals += 1
            except AssertionError as e:
                fails += 1
                print("FAIL:", repr(s[:200]))
                print(e)
        if fails >= 5:
            break
    print(f"{n} cases, {fails} failures, {residuals} walk residuals")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
