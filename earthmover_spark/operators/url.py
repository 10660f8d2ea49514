"""URL curation primitives for web-scale corpora.

CommonCrawl-style pipelines filter and cap by URL before any text pass:
parse each document's URL, bucket by registered domain, drop blocklisted
hosts, cap documents per domain. All of it is regexp/string work that
must stay JVM-side — at 100 TB the URL column alone is billions of rows.

Scale shape: ``parse_urls`` is pure narrow codegen (regexp_extract over
the scan — no shuffle, no Python). ``filter_domains`` broadcasts the
list when it is a Python sequence (an in-filter compiled into the scan
predicate) or does a broadcast semi/anti join when it is a DataFrame.
Per-domain caps reuse ``cap_per_group`` (hash-ranked, one shuffle).
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from earthmover_spark.util import EarthmoverSparkError, let

# scheme://host[:port]/path?query#fragment — permissive on purpose:
# crawl data is full of junk URLs and a parse miss must yield NULLs,
# not an error. Identical PCRE runs on the DuckDB oracle side.
_SCHEME = r"^([a-zA-Z][a-zA-Z0-9+.-]*):\/\/"
_HOST = r"^[a-zA-Z][a-zA-Z0-9+.-]*:\/\/(?:[^@\/?#]*@)?([^:\/?#]+)"
_PATH = r"^[a-zA-Z][a-zA-Z0-9+.-]*:\/\/[^\/?#]*(\/[^?#]*)"
_QUERY = r"\?([^#]*)"

#: second-level public suffixes where the registered domain needs THREE
#: labels (example.co.uk, not co.uk). A tiny built-in set covers the
#: overwhelming bulk of crawl traffic; callers with full PSL needs pass
#: their own table and join instead.
_TWO_LEVEL_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au", "com.br", "com.cn", "com.mx",
    "co.in", "co.kr", "co.za", "com.ar", "com.tr", "com.sg",
)


def registered_domain(host: Column) -> Column:
    """Registered (pay-level) domain of ``host``: the last two labels,
    or three when the two-label tail is a known second-level public
    suffix. IP literals and single-label hosts pass through whole."""

    def _over_parts(h: Column, parts: Column) -> Column:
        n = F.size(parts)
        last2 = F.concat_ws(
            ".", F.element_at(parts, -2), F.element_at(parts, -1)
        )
        last3 = F.concat_ws(
            ".", F.element_at(parts, -3), F.element_at(parts, -2),
            F.element_at(parts, -1),
        )
        is_ip = h.rlike(r"^\d{1,3}(\.\d{1,3}){3}$")
        return (
            F.when(is_ip | (n <= 2), h)
            .when(last2.isin(*_TWO_LEVEL_SUFFIXES) & (n >= 3), last3)
            .otherwise(last2)
        )

    return let(
        F.lower(host),
        lambda h: let(F.split(h, r"\."), lambda parts: _over_parts(h, parts)),
    )


def parse_urls(
    df: DataFrame, url_col: str = "url", prefix: str = "url_"
) -> DataFrame:
    """Split ``url_col`` into ``{prefix}scheme / host / domain / path /
    query`` columns (NULL where a component is absent or the URL does
    not parse). ``domain`` is the registered domain of ``host``.
    Narrow regexp codegen only — safe to run inline over any scan."""
    if url_col not in df.columns:
        raise EarthmoverSparkError(f"parse_urls: no column {url_col!r}")
    u = F.col(url_col).cast("string")
    # let-bound so the regexp_extract appears once per output column
    # instead of twice (the ''-to-NULL probe re-inlines its operand)
    nn = lambda c: let(  # noqa: E731
        c, lambda x: F.when(x == "", None).otherwise(x)
    )
    host = nn(F.regexp_extract(u, _HOST, 1))
    return (
        df.withColumn(prefix + "scheme", F.lower(nn(F.regexp_extract(u, _SCHEME, 1))))
        .withColumn(prefix + "host", F.lower(host))
        .withColumn(
            prefix + "domain",
            F.when(host.isNotNull(), registered_domain(host)),
        )
        .withColumn(prefix + "path", nn(F.regexp_extract(u, _PATH, 1)))
        .withColumn(prefix + "query", nn(F.regexp_extract(u, _QUERY, 1)))
    )


def filter_domains(
    df: DataFrame,
    domain_col: str,
    blocklist: Sequence[str] | DataFrame | None = None,
    allowlist: Sequence[str] | DataFrame | None = None,
    list_col: str = "domain",
) -> DataFrame:
    """Drop rows whose ``domain_col`` is on ``blocklist`` / keep only
    rows on ``allowlist`` (give exactly one). A Python sequence becomes
    an in-filter in the scan predicate; a DataFrame becomes a broadcast
    anti (block) or semi (allow) join on ``list_col`` — the corpus
    never shuffles either way. Matching is case-insensitive; NULL
    domains are always dropped (unparseable URL = not curatable)."""
    if (blocklist is None) == (allowlist is None):
        raise EarthmoverSparkError(
            "filter_domains: give exactly one of blocklist/allowlist"
        )
    col = F.lower(F.col(domain_col))
    out = df.filter(F.col(domain_col).isNotNull())
    lst, keep = (blocklist, False) if blocklist is not None else (allowlist, True)
    if isinstance(lst, DataFrame):
        side = lst.select(F.lower(F.col(list_col)).alias("__dom__")).distinct()
        how = "left_semi" if keep else "left_anti"
        return out.join(
            F.broadcast(side), col == F.col("__dom__"), how
        )
    vals = [str(v).lower() for v in lst]
    cond = col.isin(vals)
    return out.filter(cond if keep else ~cond)


#: query parameters that never change page CONTENT — analytics /
#: click-tracking noise that splits one logical URL into thousands of
#: crawl-distinct ones. Matched against the part before `=` (or the
#: whole bare param): a trailing ``*`` marks a prefix family
#: (``utm_*``), the rest match exactly. ``ref`` and ``spm`` are NOT
#: in the default set — they are content-significant on many sites
#: (``?ref=<branch>`` on code hosts, referral-scoped pages, Alibaba
#: page routing) and stripping them silently merges distinct pages;
#: pass ``tracking_params`` to add them for corpora where they are
#: known to be pure tracking.
DEFAULT_TRACKING_PARAMS = (
    "utm_*",
    "gclid",
    "fbclid",
    "msclkid",
    "mc_cid",
    "mc_eid",
    "igshid",
    "yclid",
    "_ga",
    "ref_src",
)


def _tracking_regex(params: Sequence[str]) -> str:
    """Anchored alternation over the param names; ``name*`` becomes a
    prefix family. Matches the whole ``k=v`` (or bare ``k``) token."""
    alts = []
    for p in params:
        if p.endswith("*"):
            alts.append(re.escape(p[:-1]) + r"[^=]*")
        else:
            alts.append(re.escape(p))
    return r"^(" + "|".join(alts) + r")(=.*)?$"

#: default ports per scheme — `host:80` over http IS `host`
_DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21"}

_PORT = r"^[a-zA-Z][a-zA-Z0-9+.-]*:\/\/(?:[^@\/?#]*@)?[^:\/?#]+:(\d+)"


def canonicalize_urls(
    df: DataFrame,
    url_col: str = "url",
    out_col: str = "url_canonical",
    tracking_params: Sequence[str] = DEFAULT_TRACKING_PARAMS,
) -> DataFrame:
    """Canonical form of ``url_col`` for URL-level dedup — the step
    before ``cap_per_group``/exact-dedup that stops one logical page
    counted as thousands of crawl variants: lowercase scheme + host,
    drop the default port and any fragment, strip the trailing path
    slash, REMOVE tracking query params (``tracking_params``, default
    :data:`DEFAULT_TRACKING_PARAMS` — ``utm_*``, ``gclid``,
    ``fbclid``, ...; a trailing ``*`` marks a prefix family), and SORT
    the surviving params so ``?b=2&a=1`` and ``?a=1&b=2`` canonicalize
    identically. Tune the set per corpus — e.g. add ``ref``/``spm``
    only where they are known to be tracking, since they are
    content-significant on many sites. Unparseable URLs (no
    scheme://host) yield NULL — same contract as ``parse_urls``.

    Scale shape (100 TB): regexp extracts + one
    split/filter/sort/join over the (short) query string, all native
    Column codegen over the scan — zero shuffle, zero Python. The
    md5 of the output column is the URL-dedup key."""
    if url_col not in df.columns:
        raise EarthmoverSparkError(f"canonicalize_urls: no column {url_col!r}")
    u = F.col(url_col).cast("string")
    scheme = F.lower(F.regexp_extract(u, _SCHEME, 1))
    host = F.lower(F.regexp_extract(u, _HOST, 1))
    port = F.regexp_extract(u, _PORT, 1)
    path = F.regexp_extract(u, _PATH, 1)
    query = F.regexp_extract(u, _QUERY, 1)
    default_port = F.lit(None).cast("string")
    for sch, prt in _DEFAULT_PORTS.items():
        default_port = F.when(scheme == sch, F.lit(prt)).otherwise(
            default_port
        )
    port_part = F.when(
        (port == "") | (port == default_port), F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    # strip ALL trailing slashes (keeps canonicalization idempotent
    # for `/a//` paths; interior structure untouched)
    path_part = F.when(path == "", F.lit("")).otherwise(
        F.regexp_replace(path, r"\/+$", "")
    )
    tracking_re = _tracking_regex(list(tracking_params))
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(tracking_re),
    )
    q = F.array_join(F.array_sort(kept), "&")
    query_part = F.when(q == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), q)
    )
    canon = F.concat(
        scheme, F.lit("://"), host, port_part, path_part, query_part
    )
    return df.withColumn(
        out_col, F.when((scheme != "") & (host != ""), canon)
    )


# <a href="...">anchor</a> — (?is): case-insensitive, dot-matches-
# newline. Two capture groups (href value, inner markup); both the
# Java regex engine and RE2 (DuckDB) support the non-greedy interior,
# so the SAME pattern runs on the oracle side. Permissive on purpose:
# crawl HTML is full of junk and a parse miss must yield nothing, not
# an error.
_A_HREF = r"""(?is)<a\s[^>]*?href\s*=\s*["']([^"']+)["'][^>]*>(.*?)</a>"""


def extract_links(
    df: DataFrame,
    html_col: str = "text",
    id_col: str = "doc_id",
    out_url_col: str = "link_url",
    out_anchor_col: str = "anchor",
) -> DataFrame:
    """Extract outbound links from raw HTML: one row per ``<a href>``
    with the target URL, the anchor text (inner markup stripped,
    whitespace collapsed), and the link's position in the document —
    the first step of web-graph construction and anchor-text corpus
    building (Common Crawl pipelines mine anchors as queries/labels;
    the link graph feeds pagerank-style quality priors). Documents
    with no links produce no rows.

    Scale shape (100 TB): two ``regexp_extract_all`` passes over the
    scan (same pattern, capture groups 1 and 2 — equal lengths by
    construction), ``arrays_zip`` + ``posexplode``. Pure narrow
    codegen: no shuffle, no Python, output sized by the links."""
    html = F.coalesce(F.col(html_col).cast("string"), F.lit(""))
    urls = F.regexp_extract_all(html, F.lit(_A_HREF), 1)
    anchors = F.regexp_extract_all(html, F.lit(_A_HREF), 2)
    pairs = F.arrays_zip(urls.alias("u"), anchors.alias("a"))
    out = df.select(
        F.col(id_col),
        F.posexplode(pairs).alias("link_pos", "__link__"),
    )
    anchor_text = F.regexp_replace(
        F.regexp_replace(F.col("__link__.a"), r"<[^>]*>", " "),
        r"\s+",
        " ",
    )
    return out.select(
        id_col,
        "link_pos",
        F.col("__link__.u").alias(out_url_col),
        F.trim(anchor_text).alias(out_anchor_col),
    )


def host_graph(
    links: DataFrame,
    src_url_col: str,
    dst_url_col: str,
) -> DataFrame:
    """Collapse page-level links into the HOST graph: one row per
    (src_host, dst_host) with the link count — the web-graph rollup
    behind domain-level quality signals (harmonic centrality /
    pagerank priors as in Common Crawl's host-level rankings).
    Relative links (no scheme://host) resolve to the source host
    (self-edge); rows whose SOURCE URL has no parseable host are
    dropped (unattributable). Hosts are lowercased.

    Scale shape (100 TB): host extraction is the same narrow
    ``regexp_extract`` codegen as ``parse_urls``; the rollup is ONE
    map-side-combined hash aggregation on (src_host, dst_host) —
    output sized by the distinct host-pair set, not the links."""
    src = F.lower(
        F.nullif(F.regexp_extract(F.col(src_url_col).cast("string"), _HOST, 1), F.lit(""))
    )
    dsth = F.lower(
        F.nullif(F.regexp_extract(F.col(dst_url_col).cast("string"), _HOST, 1), F.lit(""))
    )
    return (
        links.select(
            src.alias("src_host"),
            F.coalesce(dsth, src).alias("dst_host"),
        )
        .filter(F.col("src_host").isNotNull())
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def anchor_text(
    links: DataFrame,
    url_col: str = "link_url",
    anchor_col: str = "anchor",
    k: int = 10,
) -> DataFrame:
    """Aggregate inbound ANCHOR TEXT per destination host: the top-``k``
    anchor terms pointing at each host, by link count — the classic
    web-scale labeling signal (anchors describe the TARGET better than
    its own page text; search and corpus pipelines mine them as
    queries, titles, and topic labels for the linked host). Terms are
    lowercased alphanumeric runs; links whose URL has no parseable
    ``scheme://host`` are dropped (relative links have no independent
    target to label). Returns ``(dst_host, term, n, rank)`` with ties
    broken by term ascending.

    Scale shape (100 TB of links): term explosion is narrow codegen
    (lower/split/explode); the count is ONE map-side-combined hash agg
    on (host, term) — output sized by the distinct vocabulary per
    host, not the links — and the top-k is WindowGroupLimit-pruned
    (rank filter pushes below the final sort, never a global sort)."""
    if k < 1:
        raise EarthmoverSparkError("anchor_text: k must be >= 1")
    host = F.lower(
        F.nullif(
            F.regexp_extract(F.col(url_col).cast("string"), _HOST, 1),
            F.lit(""),
        )
    )
    terms = (
        links.select(
            host.alias("dst_host"),
            F.explode(
                F.split(
                    F.lower(F.coalesce(F.col(anchor_col).cast("string"), F.lit(""))),
                    r"[^a-z0-9]+",
                )
            ).alias("term"),
        )
        .filter(F.col("dst_host").isNotNull() & (F.col("term") != ""))
    )
    counts = terms.groupBy("dst_host", "term").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("dst_host").orderBy(
        F.col("n").desc(), F.col("term").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


__all__ = [
    "parse_urls",
    "filter_domains",
    "registered_domain",
    "canonicalize_urls",
    "extract_links",
    "host_graph",
    "anchor_text",
]
