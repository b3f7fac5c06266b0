r"""Precompiled heuristic regexes for the extraction kernel.

Semantics re-derived from the reference's regex table (reference:
regexps.go:5-54).  Compiled once at module import so every Python worker
pays the cost exactly once (mirrors the reference's package-level globals,
regexps.go:5-7).

Translation notes (Go `regexp` -> Python `re`):
  * Go's ``\s``/``\S``/``\w``/``\W`` are ASCII-only; Python defaults to
    Unicode.  Every pattern using those classes is compiled with
    ``re.ASCII`` so e.g. U+00A0 (nbsp) is *not* treated as whitespace,
    matching the reference byte-for-byte.
  * ``(?i)`` -> ``re.IGNORECASE``.
  * Go hex rune escapes -> literal characters (e.g. U+FF0C fullwidth comma).
"""

from __future__ import annotations

import re

_I = re.IGNORECASE
_A = re.ASCII

UNLIKELY_CANDIDATES = re.compile(
    r"-ad-|ai2html|banner|breadcrumbs|combx|comment|community|cover-wrap|disqus|"
    r"extra|footer|gdpr|header|legends|menu|related|remark|replies|rss|shoutbox|"
    r"sidebar|skyscraper|social|sponsor|supplemental|ad-break|agegate|pagination|"
    r"pager|popup|yom-remote",
    _I,
)
OK_MAYBE_ITS_A_CANDIDATE = re.compile(r"and|article|body|column|content|main|shadow", _I)
POSITIVE = re.compile(
    r"article|body|content|entry|hentry|h-entry|main|page|pagination|post|text|blog|story", _I
)
NEGATIVE = re.compile(
    r"-ad-|hidden|^hid$| hid$| hid |^hid |banner|combx|comment|com-|contact|foot|"
    r"footer|footnote|gdpr|masthead|media|meta|outbrain|promo|related|scroll|share|"
    r"shoutbox|sidebar|skyscraper|sponsor|shopping|tags|tool|widget",
    _I,
)
BYLINE = re.compile(r"byline|author|dateline|writtenby|p-author", _I)
NORMALIZE = re.compile(r"\s{2,}", _A)
VIDEOS = re.compile(
    r"//(www\.)?((dailymotion|youtube|youtube-nocookie|player\.vimeo|v\.qq)\.com|"
    r"(archive|upload\.wikimedia)\.org|player\.twitch\.tv)",
    _I,
)
SHARE_ELEMENTS = re.compile(r"(\b|_)(share|sharedaddy)(\b|_)", _I | _A)
TOKENIZE = re.compile(r"\W+", _A)
WHITESPACE = re.compile(r"^\s*$", _A)
HAS_CONTENT = re.compile(r"\S$", _A)
HASH_URL = re.compile(r"^#.+")
SRCSET_URL = re.compile(r"(\S+)(\s+[\d.]+[xw])?(\s*(?:,|$))", _A)
# Linear-time findall for SRCSET_URL (see findall_srcset below).
_SRCSET_TOKEN = re.compile(r"\S+", _A)
_SRCSET_TAIL = re.compile(r"(\s+[\d.]+[xw])?(\s*(?:,|$))", _A)
B64_DATA_URL = re.compile(r"^data:\s*([^\s;,]+)\s*;\s*base64\s*,", _I | _A)
# Comma variants across Latin, Arabic, CJK and other scripts.
COMMAS = re.compile(
    ",|،|﹐|︐|︑|⹁|⸴|⸲|，"
)
JSONLD_ARTICLE_TYPES = re.compile(
    r"^Article|AdvertiserContentArticle|NewsArticle|AnalysisNewsArticle|"
    r"AskPublicNewsArticle|BackgroundNewsArticle|OpinionNewsArticle|"
    r"ReportageNewsArticle|ReviewNewsArticle|Report|SatiricalArticle|"
    r"ScholarlyArticle|MedicalScholarlyArticle|SocialMediaPosting|BlogPosting|"
    r"LiveBlogPosting|DiscussionForumPosting|TechArticle|APIReference$"
)
TITLE_FINAL_PART = re.compile(r" [\|\-\\/>»] ")
TITLE_SEPARATORS = re.compile(r" [\\/>»] ")
OTHER_TITLE_SEPARATORS = re.compile(r"(.*)[\|\-\\/>»] .*", _I)
MULTIPLE_WHITESPACES = re.compile(r"\s+", _A)
SINGLE_WHITESPACE = re.compile(r"\s", _A)
SINGLE_DOT = re.compile(r"\.")
ENTITY_REFERENCES = re.compile(r"&(quot|amp|apos|lt|gt);")
HTML_CHAR_CODES = re.compile(r"&#(?:x([0-9a-fA-F]{1,4})|([0-9]{1,5}));", _I)
DOUBLE_FORWARD_SLASHES = re.compile(r"//[^/]+")
SEPARATORS = re.compile(r"[\|\-\\/>»]+")
DOT_SPACE_OR_DOLLAR = re.compile(r"\.( |$)")
CDATA_MARKERS = re.compile(r"^\s*<!\[CDATA\[|\]\]>\s*$", _A)
SCHEMA_URL = re.compile(r"^https?://schema\.org/?$")
# `property` attr is a space-separated list of values.
PROPERTY_PATTERN = re.compile(
    r"\s*(article|dc|dcterm|og|twitter)\s*:\s*"
    r"(author|creator|description|published_time|title|site_name)\s*",
    _I | _A,
)
# `name` attr is a single value.
NAME_PATTERN = re.compile(
    r"^\s*(?:(dc|dcterm|og|twitter|weibo:(article|webpage))\s*[\.:]\s*)?"
    r"(author|creator|description|title|site_name)\s*$",
    _I | _A,
)
IMG_EXTENSIONS = re.compile(r"\.(jpg|jpeg|png|webp)")
BASE64_STARTS = re.compile(r"base64\s*", _A)
IMG_EXTENSIONS_WITH_SPACES_AND_NUM = re.compile(r"\.(jpg|jpeg|png|webp)\s+\d", _A)
IMG_EXTENSIONS_AMONG_TEXT = re.compile(r"^\s*\S+\.(jpg|jpeg|png|webp)\S*\s*$", _A)


def findall_srcset(s: str) -> list[tuple[str, str, str]]:
    """Linear-time equivalent of ``SRCSET_URL.findall(s)``.

    Go's RE2 runs regexps.go:24 in O(n); Python's backtracking engine is
    O(n^2) on it (the ``(\\S+)`` giveback rescans the token at every failed
    start — a 50 KB unbroken srcset token measured >40 s, one adversarial
    crawl page could stall an executor).  The engine's search, replayed
    by hand so every input costs one pass:

    * at a token start the engine first tries the FULL non-space run; the
      tail ``(\\s+[\\d.]+[xw])?(\\s*(?:,|$))`` is anchored at the token end
      (its quantifiers never overlap, so matching it there is linear);
    * if the tail fails, the giveback walks right-to-left until
      ``\\s*(?:,|$)`` matches zero whitespace — i.e. until the RIGHTMOST
      ',' strictly inside the token (a giveback position holds a
      non-space char, so ``\\s+...`` and ``$`` can never fire there);
    * no comma -> every start inside the token fails the same way, so the
      scan skips to the next token (what findall's one-char advance
      converges to).

    Equality with SRCSET_URL.findall is pinned by an exhaustive-alphabet
    differential test (tests/test_urlfix.py).
    """
    out: list[tuple[str, str, str]] = []
    i, n = 0, len(s)
    while i < n:
        tok = _SRCSET_TOKEN.search(s, i)
        if tok is None:
            break
        i, j = tok.start(), tok.end()
        m = _SRCSET_TAIL.match(s, j)
        if m is not None:
            out.append((s[i:j], m.group(1) or "", m.group(2) or ""))
            i = m.end()
        else:
            c = s.rfind(",", i + 1, j)
            if c == -1:
                i = j
            else:
                out.append((s[i:c], "", ","))
                i = c + 1
    return out
