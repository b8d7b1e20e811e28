"""URL-level filtering for crawl curation (the C4 / FineWeb recipe):
domain blocklist (UT1-style categories), spam keywords in the URL, and
non-content file extensions.  Everything is a pure Catalyst map pass —
whole-stage codegen, no UDF, no shuffle — because URL rules are the
cheapest gate in the pipeline and should run before any byte of HTML is
parsed.

The shipped keyword/domain lists are small representative defaults; at
deploy time swap in the full UT1 blocklist (a ~4M-domain set) — at that
size the domain test becomes a broadcast semi-join against a blocklist
table instead of an isin() literal, which ``domain_blocked_expr``
supports by accepting a column expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DEFAULT_BLOCKED_DOMAINS: tuple[str, ...] = (
    "badware.example", "casino-hub.example", "tracker.example",
)

DEFAULT_URL_KEYWORDS: tuple[str, ...] = (
    "casino", "xxx", "viagra", "lottery", "webcam",
)

NON_CONTENT_EXT_RE = (
    # matched at end-of-path OR just before a query/fragment, so
    # '/app.js?v=2' and '/img.png#x' don't bypass the gate.  Consuming
    # ([?#]|\z) group, not a lookahead: the oracle mirror runs under
    # DuckDB's RE2, which has no lookahead; \z (absolute end, both
    # engines) rather than $ because Java's $ also matches before a
    # trailing line terminator where RE2's does not.
    r"\.(js|css|json|xml|rss|atom|jpg|jpeg|png|gif|webp|svg|ico|mp3|mp4"
    r"|avi|zip|gz|tar|exe|dmg|apk|woff2?)([?#]|\z)"
)


def host_of(url_col):
    """Lowercased HOST of a URL column: userinfo and port stripped, so
    'https://user@badware.example:8443/x' -> 'badware.example' (a port
    must not bypass the domain blocklist)."""
    return F.regexp_extract(
        F.lower(url_col), "^[a-z]+://(?:[^/?#@]*@)?([^/?#:]+)", 1
    )


def url_filter(documents: DataFrame,
               blocked_domains: tuple[str, ...] = DEFAULT_BLOCKED_DOMAINS,
               keywords: tuple[str, ...] = DEFAULT_URL_KEYWORDS) -> DataFrame:
    """Append audit columns of the ``url`` rules: ``url_host``, ``domain_blocked``
    (exact host or any-subdomain match), ``url_kw_hits`` (count of spam
    keywords in the URL), ``ext_blocked`` (non-content extension), and
    the composite ``url_ok``."""
    url_l = F.lower(F.col("url"))
    host = host_of(F.col("url"))
    dom = F.lit(False)
    for d in blocked_domains:
        dom = dom | (host == d) | host.endswith("." + d)
    kw_hits = F.lit(0)
    for k in keywords:
        kw_hits = kw_hits + F.when(url_l.contains(k), 1).otherwise(0)
    ext = url_l.rlike(NON_CONTENT_EXT_RE)
    return (
        documents
        .withColumn("url_host", host)
        .withColumn("domain_blocked", dom)
        .withColumn("url_kw_hits", kw_hits.cast("long"))
        .withColumn("ext_blocked", ext)
        .withColumn(
            "url_ok",
            ~dom & (F.col("url_kw_hits") == 0) & ~ext,
        )
    )
