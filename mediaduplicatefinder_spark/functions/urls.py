"""URL canonicalization for crawl dedup (E37).

Two crawls of the same page rarely present byte-identical URLs:
scheme/host case, default ports, tracking parameters, fragments and
parameter order all vary.  Canonicalizing BEFORE url-keyed dedup
(exact pass A1, incremental re-crawl retraction, keeper choice O1)
collapses these spurious distinctions — the crawl-side sibling of the
P5 text normalization the reference applies before word comparison
(main_cli.cpp:277-283).

Rules (the conservative, widely-agreed subset — each is a pure
string expression, whole-stage codegen, no Python):

* scheme and host lowercased; a leading ``www.`` label dropped
* default ports stripped (``:80`` for http, ``:443`` for https);
  NON-default ports kept — including ``https://x:80`` (not a default)
* fragment dropped
* tracking parameters dropped (``utm_*``, ``fbclid``, ``gclid``)
* surviving query parameters sorted (order never changes content);
  an emptied query string drops its ``?``
* empty path becomes ``/``

Deliberately NOT done (documented, order-dependent or lossy):
``../`` path collapsing (needs a stack), percent-decoding (changes
byte identity), and public-suffix-aware domain extraction (needs the
PSL list; ``domain`` below is the last-two-labels approximation).

Cross-engine parity: every regex is anchored, alternation-free or
used only as a boolean gate, so Java and RE2-family engines agree;
sorting is on plain ASCII parameter strings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_TRACKING = "^(utm_[a-zA-Z0-9_]*|fbclid|gclid)="


def canon_url_expr(url: Column) -> Column:
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z]+)://", 1))
    host0 = F.lower(F.regexp_extract(url, r"^[A-Za-z]+://([^/:?#]+)", 1))
    host = F.regexp_replace(host0, r"^www\.", "")
    port = F.regexp_extract(url, r"^[A-Za-z]+://[^/:?#]+:([0-9]+)", 1)
    path0 = F.regexp_extract(url, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    path = F.when(path0 == "", F.lit("/")).otherwise(path0)
    query = F.regexp_extract(url, r"\?([^#]*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(_TRACKING),
        )
    )
    qs = F.array_join(params, "&")
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )


def host_expr(url: Column) -> Column:
    host0 = F.lower(F.regexp_extract(url, r"^[A-Za-z]+://([^/:?#]+)", 1))
    return F.regexp_replace(host0, r"^www\.", "")


def domain_expr(url: Column) -> Column:
    """Last two dot-labels of the canonical host (PSL-free
    approximation, documented)."""
    return F.regexp_extract(host_expr(url), r"([^.]+\.[^.]+)$", 1)


def canon_url_sql(url: str) -> dict[str, str]:
    """DuckDB twins of the three expressions, keyed canon/host/domain."""
    scheme = f"lower(regexp_extract({url}, '^([A-Za-z]+)://', 1))"
    host0 = f"lower(regexp_extract({url}, '^[A-Za-z]+://([^/:?#]+)', 1))"
    host = f"regexp_replace({host0}, '^www\\.', '')"
    port = f"regexp_extract({url}, '^[A-Za-z]+://[^/:?#]+:([0-9]+)', 1)"
    path0 = f"regexp_extract({url}, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1)"
    path = f"CASE WHEN {path0} = '' THEN '/' ELSE {path0} END"
    query = f"regexp_extract({url}, '\\?([^#]*)', 1)"
    params = (
        f"list_sort(list_filter(string_split({query}, '&'), "
        f"p -> p <> '' AND NOT regexp_matches(p, '{_TRACKING}')))"
    )
    qs = f"array_to_string({params}, '&')"
    keep_port = (
        f"({port} <> '' AND NOT (({scheme} = 'http' AND {port} = '80') "
        f"OR ({scheme} = 'https' AND {port} = '443')))"
    )
    canon = (
        f"{scheme} || '://' || {host} || "
        f"(CASE WHEN {keep_port} THEN ':' || {port} ELSE '' END) || "
        f"{path} || "
        f"(CASE WHEN {qs} <> '' THEN '?' || {qs} ELSE '' END)"
    )
    domain = f"regexp_extract({host}, '([^.]+\\.[^.]+)$', 1)"
    return {"canon": canon, "host": host, "domain": domain}
