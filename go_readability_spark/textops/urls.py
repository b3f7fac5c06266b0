"""URL canonicalization + URL-keyed dedup (crawl-hygiene stage of a
training-data pipeline: CCNet/RefinedWeb dedup fetched pages by
normalized URL before any content fingerprinting).

No reference equivalent — the reference (readability.go:265-403) only
*resolves* relative URIs inside a document; canonicalizing the corpus's
own fetch URLs is an engine capability the reference never needed.

Canonical form: lowercase scheme+host, default port stripped (:80 for
http, :443 for https — non-default ports kept), exactly-one-leading-"/"
path with a single trailing slash removed (root "/" kept), tracking
query params dropped (utm_* prefix plus an exact-name blocklist),
surviving params sorted, fragment dropped.

All pure string/array Catalyst expressions — scan-bound, no shuffle
until the final groupBy(canonical_url); at 100 TB this is a map stage
plus one hash agg, the same shape as exact dedup (dedup.py:34).

The whole recipe is ONE SQL template rendered per engine (Spark /
DuckDB differ only in function names), so the oracle is structurally
the same text — the parity strategy every operator in this package
uses.  The regex deliberately contains no backslash: Spark SQL string
literals escape-process backslashes while DuckDB's do not, so a
backslash-free pattern ([?] instead of an escaped ?) is the only form
that means the same thing in both parsers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# scheme :// host [:port] [path] [?query] [#fragment] — no backslashes
# (see module docstring); groups are 1-indexed in both engines.
_URL_RX = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/:?#]+)(:[0-9]+)?([^?#]*)([?][^#]*)?(#.*)?$"

# Exact-name tracking params (utm_* is handled as a prefix match).
TRACKING_PARAMS = ("ref", "fbclid", "gclid", "mc_cid", "mc_eid")

_DIALECTS = {
    "spark": {
        "filter": "filter",
        "split": "split",
        "size": "size",
        "sort": "array_sort",
        "join": "array_join",
        "startswith": "startswith",
        "endswith": "endswith",
        "STR": "STRING",
    },
    "duckdb": {
        "filter": "list_filter",
        "split": "string_split",
        "size": "len",
        "sort": "list_sort",
        "join": "array_to_string",
        "startswith": "starts_with",
        "endswith": "ends_with",
        "STR": "VARCHAR",
    },
}


def canonical_url_sql(url_expr: str, engine: str) -> str:
    """Render the canonicalization of ``url_expr`` for ``engine``
    ('spark' | 'duckdb') as one scalar SQL expression."""
    d = _DIALECTS[engine]
    g = lambda n: f"regexp_extract({url_expr}, '{_URL_RX}', {n})"  # noqa: E731
    scheme = f"lower({g(1)})"
    host = f"lower({g(2)})"
    port = g(3)
    path = g(4)
    query = g(5)
    names = ", ".join(f"'{p}'" for p in TRACKING_PARAMS)
    port_norm = (
        f"CASE WHEN ({scheme} = 'https' AND {port} = ':443')"
        f" OR ({scheme} = 'http' AND {port} = ':80') THEN '' ELSE {port} END"
    )
    path_norm = (
        f"CASE WHEN {path} = '' THEN '/'"
        f" WHEN {path} <> '/' AND {d['endswith']}({path}, '/')"
        f" THEN substr({path}, 1, length({path}) - 1) ELSE {path} END"
    )
    kept = (
        f"{d['filter']}({d['split']}(substr({query}, 2), '&'),"
        f" p -> NOT ({d['startswith']}(p, 'utm_')"
        f" OR split_part(p, '=', 1) IN ({names})))"
    )
    q_norm = (
        f"CASE WHEN {query} = '' THEN ''"
        f" WHEN {d['size']}({kept}) = 0 THEN ''"
        f" ELSE '?' || {d['join']}({d['sort']}({kept}), '&') END"
    )
    # URLs the pattern can't parse (userinfo, IPv6 hosts, garbage) extract
    # '' for every group in both engines; without this guard they would ALL
    # canonicalize to the identical constant ':///' and url_duplicates
    # would merge every unparseable URL into one duplicate group.  Keep
    # them verbatim instead: distinct raw strings stay distinct.
    canon = f"{scheme} || '://' || {host} || {port_norm} || {path_norm} || {q_norm}"
    return f"CASE WHEN {host} <> '' THEN {canon} ELSE {url_expr} END"


def _synth_url_sql(engine: str, category: bool = False) -> str:
    """Deterministic fetch-URL for each (doc_id, source) row — the
    testdata tables carry no URL column, so the query derives one with
    the identical expression on both engines.  The derivation is built
    to exercise every canonicalization rule: mixed scheme/host case,
    default port, trailing slash, utm_*/ref tracking params arriving in
    shuffled order, and a fragment; doc_id % 10 path slots per source
    make genuine URL collisions (re-fetches of the same page).

    ``category=True`` injects a section segment into the path (a few
    slots carry the spam-ish categories ``url_filter`` flags) — used
    only by the URL-filter view so the dedup queries' pinned oracles
    keep seeing the exact historical URL text."""
    s = _DIALECTS[engine]["STR"]
    cat = (
        " CASE WHEN doc_id % 11 = 3 THEN '/casino' "
        "WHEN doc_id % 11 = 7 THEN '/poker' ELSE '/news' END ||"
        if category
        else ""
    )
    return (
        "CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END || '://' ||"
        " CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END || '.Example.COM' ||"
        " CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END ||"
        f"{cat}"
        f" '/articles/' || CAST(doc_id % 10 AS {s}) ||"
        " CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||"
        f" '?utm_source=feed&page=' || CAST(doc_id % 2 AS {s}) ||"
        " CASE WHEN doc_id % 5 = 0 THEN '&ref=tw' ELSE '' END ||"
        f" '&utm_campaign=w' || CAST(doc_id AS {s}) ||"
        f" '#sec' || CAST(doc_id % 3 AS {s})"
    )


def url_duplicates(documents: DataFrame) -> DataFrame:
    """Canonical-URL duplicate groups: (canonical_url, n_docs, keep_doc)
    for every URL fetched more than once, keeper = min doc_id (first
    fetch wins — the standard crawl-dedup survivor rule)."""
    canon = F.expr(canonical_url_sql(f"({_synth_url_sql('spark')})", "spark"))
    return (
        documents.select(canon.alias("canonical_url"), "doc_id")
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("canonical_url")
    )


def url_dedup_losers(documents: DataFrame) -> DataFrame:
    """doc_ids to DROP before extraction: every member of a canonical-URL
    duplicate group except the first fetch (min doc_id — the same survivor
    rule as ``url_duplicates``).  The production pre-extraction dedup gate
    (no reference equivalent; the reference extracts single documents):
    duplicates are removed BEFORE the kernel so re-fetched pages never pay
    page parse/extraction.  The only shuffle is the canonical-URL partial
    agg; dup groups are rare, so mapping groups back to member doc_ids is
    a broadcast join and the corpus-sized side never moves."""
    canon = F.expr(canonical_url_sql(f"({_synth_url_sql('spark')})", "spark"))
    per_doc = documents.select(canon.alias("canonical_url"), "doc_id")
    groups = (
        per_doc.groupBy("canonical_url")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc"))
        .filter(F.col("n_docs") > 1)
    )
    return (
        per_doc.join(F.broadcast(groups), "canonical_url")
        .filter(F.col("doc_id") != F.col("keep_doc"))
        .select("doc_id")
    )


def url_duplicates_oracle_sql() -> str:
    canon = canonical_url_sql(f"({_synth_url_sql('duckdb')})", "duckdb")
    return f"""
SELECT canonical_url,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS keep_doc
FROM (SELECT {canon} AS canonical_url, doc_id FROM documents)
GROUP BY canonical_url
HAVING count(*) > 1
ORDER BY canonical_url
"""


# -- URL filtering (UT1-style blocklist + URL keyword gate) -----------------
#
# The crawl-frontier hygiene stage CCNet/RefinedWeb run BEFORE fetching or
# extracting anything: drop URLs whose host is on a curated blocklist (the
# UT1 adult/spam lists) or whose path carries a flagged keyword.  No
# reference equivalent — the reference extracts a page it is already given.
#
# Scale shape: the blocklist is ~10^6 hosts → broadcast join against the
# corpus's host column (the corpus-sized side never shuffles); the keyword
# gate is a pure scalar predicate on the path — both map-stage work, zero
# wide exchanges at any corpus size.  The default face below renders the
# blocklist as an IN literal so the whole verdict is ONE dual-dialect
# scalar expression (the package's oracle-parity strategy).

BLOCKED_HOSTS = ("src3.example.com", "src11.example.com")
URL_KEYWORDS = ("casino", "poker")


# engine-neutral fragments over (host, path) columns: CASE/IN/LIKE parse
# identically in Spark SQL and DuckDB, so one string serves both.
_HOST_SQL = f"regexp_extract(canonical_url, '{_URL_RX}', 2)"
_PATH_SQL = f"regexp_extract(canonical_url, '{_URL_RX}', 4)"


def _url_verdict_case_sql() -> str:
    """Blocklist wins over keyword (a blocked host is dropped whatever its
    path says) — both arms live at test scale."""
    hosts = ", ".join(f"'{h}'" for h in BLOCKED_HOSTS)
    kw = " OR ".join(f"path LIKE '%{k}%'" for k in URL_KEYWORDS)
    return (
        f"CASE WHEN host IN ({hosts}) THEN 'blocked_host'"
        f" WHEN {kw} THEN 'url_keyword' ELSE 'kept' END"
    )


def url_filter(
    documents: DataFrame, blocked_hosts: DataFrame | None = None
) -> DataFrame:
    """Per-document URL-filter verdict: (doc_id, host, reason) with reason
    in {'blocked_host', 'url_keyword', 'kept'}, ordered by doc_id.

    ``blocked_hosts`` (a one-column ``host`` frame) is the production
    blocklist hook: when given it replaces the literal IN list with a
    broadcast join, the shape a UT1-sized list needs."""
    canon = F.expr(
        canonical_url_sql(f"({_synth_url_sql('spark', category=True)})", "spark")
    )
    verdicts = (
        documents.select("doc_id", canon.alias("canonical_url"))
        .select(
            "doc_id",
            F.expr(_HOST_SQL).alias("host"),
            F.expr(_PATH_SQL).alias("path"),
        )
        .withColumn("reason", F.expr(_url_verdict_case_sql()))
        .select("doc_id", "host", "reason")
    )
    if blocked_hosts is not None:
        marked = F.broadcast(
            blocked_hosts.select("host").distinct().withColumn("_blocked", F.lit(True))
        )
        verdicts = (
            verdicts.join(marked, "host", "left")
            .withColumn(
                "reason",
                F.when(F.col("_blocked"), F.lit("blocked_host")).otherwise(
                    F.col("reason")
                ),
            )
            .select("doc_id", "host", "reason")
        )
    return verdicts.orderBy("doc_id")


def url_filter_oracle_sql() -> str:
    canon = canonical_url_sql(f"({_synth_url_sql('duckdb', category=True)})", "duckdb")
    return f"""
SELECT doc_id, host, {_url_verdict_case_sql()} AS reason
FROM (
  SELECT doc_id, {_HOST_SQL} AS host, {_PATH_SQL} AS path
  FROM (SELECT doc_id, {canon} AS canonical_url FROM documents)
)
ORDER BY doc_id
"""
