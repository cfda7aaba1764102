"""URL canonicalization unit tests (functions/web.py)."""

from __future__ import annotations

import pytest


CASES = [
    # scheme/host case + default port + fragment + tracking + param sort
    ("HTTP://WWW.Ex.COM:80/A/b?z=1&utm_campaign=x&a=2#top",
     "http://www.ex.com/A/b?a=2&z=1"),
    ("https://ex.com:443/p", "https://ex.com/p"),
    # non-default port survives
    ("https://ex.com:8443/p?b=1&a=1", "https://ex.com:8443/p?a=1&b=1"),
    # all params tracking -> '?' disappears
    ("http://ex.com/p?utm_source=a&fbclid=b&gclid=c", "http://ex.com/p"),
    # empty query / bare fragment
    ("http://ex.com/p?", "http://ex.com/p"),
    ("http://ex.com/p#frag", "http://ex.com/p"),
    # path case preserved; utm-like VALUES (not keys) kept
    ("http://ex.com/UTM_source?x=utm_source", "http://ex.com/UTM_source?x=utm_source"),
    # non-URL passthrough, untouched
    ("not a url at all", "not a url at all"),
    ("", ""),
]


def test_normalize_url_rules(spark):
    from pyspark.sql import functions as F

    from kyiv_traffic_bigdata_spark.functions.web import normalize_url

    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(CASES)], "i long, u string")
    got = {r.i: r.c for r in df.select("i", normalize_url(F.col("u")).alias("c")).collect()}
    for i, (u, want) in enumerate(CASES):
        assert got[i] == want, f"{u!r}: {got[i]!r} != {want!r}"


def test_sql_normalize_url_matches_spark_on_cases():
    import duckdb

    from kyiv_traffic_bigdata_spark.functions.web import sql_normalize_url

    con = duckdb.connect()
    for u, want in CASES:
        got = con.sql(
            f"SELECT {sql_normalize_url()} FROM (SELECT ? AS url)", params=[u]
        ).fetchone()[0]
        assert got == want, f"{u!r}: {got!r} != {want!r}"


def test_html_to_text_rules(spark):
    from pyspark.sql import functions as F

    from kyiv_traffic_bigdata_spark.functions.web import html_to_text

    cases = [
        # blocks drop wholesale, incl. attributes + newlines inside
        ("<p>keep</p><script type='x'>\nvar a = '<p>no</p>';\n</script><b>this</b>",
         "keep this"),
        ("<style>\nbody { color: red }\n</style>ok", "ok"),
        ("before<!-- secret\nstuff -->after", "before after"),
        # entities decode AFTER tags strip: encoded markup survives as text
        ("&lt;i&gt;literal&lt;/i&gt; &amp; co &nbsp;x &quot;q&quot; &#39;a&#39;",
         "<i>literal</i> & co x \"q\" 'a'"),
        # double-encoded &amp;lt; ends as the literal string "&lt;"
        ("a &amp;lt; b", "a &lt; b"),
        ("  plain   text\twith\nspaces  ", "plain text with spaces"),
    ]
    df = spark.createDataFrame([(i, h) for i, (h, _) in enumerate(cases)], "i long, h string")
    got = {r.i: r.t for r in df.select("i", html_to_text(F.col("h")).alias("t")).collect()}
    for i, (h, want) in enumerate(cases):
        assert got[i] == want, f"{h!r}: {got[i]!r} != {want!r}"


def test_sql_html_to_text_matches_spark_on_cases():
    import duckdb

    from kyiv_traffic_bigdata_spark.functions.web import sql_html_to_text

    con = duckdb.connect()
    cases = [
        "<p>keep</p><script>var a='<p>no</p>';</script><b>this</b>",
        "&lt;i&gt;x&lt;/i&gt; &amp; &amp;lt; &quot;q&quot;",
        "<style>a{b:c}</style><!-- z -->ok   done",
    ]
    expected = ["keep this", '<i>x</i> & &lt; "q"', "ok done"]
    for h, want in zip(cases, expected):
        got = con.sql(
            f"SELECT {sql_html_to_text()} FROM (SELECT ? AS html)", params=[h]
        ).fetchone()[0]
        assert got == want, f"{h!r}: {got!r} != {want!r}"
