"""URL canonicalization — the crawl-dedup prerequisite.

Two crawls of the same page rarely present byte-identical URLs
(scheme/host case, default ports, fragments, tracking parameters,
parameter order); URL-level dedup and politeness bucketing both need a
canonical form FIRST. Everything here is pure Catalyst expression work
(regexp + array ops — map-only, codegen'd, no UDF) with RE2-safe
patterns so the DuckDB oracle computes the identical string.

Canonicalization rules (the standard, conservative set):

1. scheme and host lowercased (path/query case is significant);
2. fragment (``#…``) stripped — never sent to the server;
3. default ports stripped (``:80`` for http, ``:443`` for https);
4. tracking parameters dropped (``utm_*``, ``fbclid``, ``gclid``);
5. remaining query parameters sorted (order is almost never
   semantic; sorting makes equal parameter SETS compare equal);
6. empty query (after dropping) loses its ``?``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: RE2-safe pattern for a query parameter that should be dropped before
#: comparing URLs (pure tracking, never content-addressing).
TRACKING_PARAM = r"^(utm_[a-z]+|fbclid|gclid|msclkid|mc_eid)="

_SPLIT = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$"


def url_parts(col: Column) -> Column:
    """Struct of (scheme, authority, path, query) — fragment discarded.
    Non-URL strings yield empty fields (regexp_extract's no-match)."""
    return F.struct(
        F.regexp_extract(col, _SPLIT, 1).alias("scheme"),
        F.regexp_extract(col, _SPLIT, 2).alias("authority"),
        F.regexp_extract(col, _SPLIT, 3).alias("path"),
        F.regexp_extract(col, _SPLIT, 4).alias("query"),
    )


def normalize_url(col: Column) -> Column:
    """Canonical URL string per the module rules; non-URLs (no
    ``scheme://``) pass through unchanged so the column stays total."""
    p = url_parts(col)
    scheme = F.lower(p.getField("scheme"))
    auth = F.lower(p.getField("authority"))
    auth = F.when(
        (scheme == "http") & auth.endswith(":80"),
        F.substring(auth, 1, F.length(auth) - 3),
    ).when(
        (scheme == "https") & auth.endswith(":443"),
        F.substring(auth, 1, F.length(auth) - 4),
    ).otherwise(auth)
    path = p.getField("path")
    raw_q = p.getField("query")
    params = F.filter(
        F.split(F.substring(raw_q, 2, F.length(raw_q)), "&"),
        lambda kv: (F.length(kv) > 0) & ~kv.rlike(TRACKING_PARAM),
    )
    query = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(F.array_sort(params), "&"))
    ).otherwise(F.lit(""))
    canon = F.concat(scheme, F.lit("://"), auth, path, query)
    return F.when(p.getField("scheme") == "", col).otherwise(canon)


#: ordered (pattern, replacement) chain for :func:`html_to_text` —
#: RE2-safe (inline (?is) flags, lazy quantifiers, no lookaround), so
#: Java regex (Spark) and RE2 (DuckDB) produce the identical string.
#: Order matters: blocks drop before generic tags, entities decode after
#: tags are gone (so "&lt;tag&gt;" survives as literal text).
HTML_TEXT_CHAIN: tuple[tuple[str, str], ...] = (
    (r"(?is)<script[^>]*>.*?</script>", " "),
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"(?s)<[^>]+>", " "),
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    (r"&amp;", "&"),  # last, so "&amp;lt;" decodes to the literal "&lt;"
)


def html_to_text(col: Column) -> Column:
    """Boilerplate-light text extraction from HTML — the step between
    crawled HTML and every text operator (dedup, quality gates,
    lang-ID). Drops script/style/comment blocks, strips
    tags, decodes the common entities, collapses whitespace. Pure
    Catalyst ``regexp_replace`` chain: map-only, codegen'd, no UDF —
    a full-fidelity DOM extractor (readability/trafilatura) is a
    drop-in replacement behind the same column contract."""
    out = col
    for pat, repl in HTML_TEXT_CHAIN:
        out = F.regexp_replace(out, pat, repl)
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def sql_html_to_text() -> str:
    """DuckDB twin of :func:`html_to_text` over the ``html`` column (same
    chain, 'g' flag)."""
    out = "html"
    for pat, repl in HTML_TEXT_CHAIN:
        rq = repl.replace("'", "''")
        out = f"regexp_replace({out}, '{pat}', '{rq}', 'g')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


def sql_normalize_url() -> str:
    """DuckDB twin of :func:`normalize_url` over the ``url`` column —
    identical regexps (RE2-safe) and identical rule order, for oracle
    parity."""
    expr = "url"
    scheme = f"lower(regexp_extract({expr}, '{_SPLIT}', 1))"
    auth0 = f"lower(regexp_extract({expr}, '{_SPLIT}', 2))"
    auth = (
        f"(CASE WHEN {scheme} = 'http' AND {auth0} LIKE '%:80' "
        f"THEN substr({auth0}, 1, length({auth0}) - 3) "
        f"WHEN {scheme} = 'https' AND {auth0} LIKE '%:443' "
        f"THEN substr({auth0}, 1, length({auth0}) - 4) "
        f"ELSE {auth0} END)"
    )
    path = f"regexp_extract({expr}, '{_SPLIT}', 3)"
    raw_q = f"regexp_extract({expr}, '{_SPLIT}', 4)"
    params = (
        f"list_filter(string_split(substr({raw_q}, 2), '&'), "
        f"kv -> length(kv) > 0 AND NOT regexp_matches(kv, '{TRACKING_PARAM}'))"
    )
    query = (
        f"(CASE WHEN len({params}) > 0 "
        f"THEN '?' || array_to_string(list_sort({params}), '&') ELSE '' END)"
    )
    return (
        f"(CASE WHEN regexp_extract({expr}, '{_SPLIT}', 1) = '' THEN {expr} "
        f"ELSE {scheme} || '://' || {auth} || {path} || {query} END)"
    )
