"""URL / domain column expressions — all native Spark SQL functions.

Two distinct code paths, kept separate on purpose (SURVEY.md §1.5):

* :func:`domain_parts` — **reference-exact** semantics of
  ``parse_domain_url`` (``/root/reference/httpz_scanner/parsers.py:38-74``):
  NO case folding, strip + rstrip('/'), port via rsplit(':',1)-iff-digits.
  Used by the parity layer so results diff bit-for-bit against httpz.
* :func:`canonicalize_url` — the north-star frontier canonicalization
  (scheme/host lowercased, query-param sorted, fragment stripped).  Used for
  the seen-set / dedup key (``url_hash64`` over this string).

Everything here is Catalyst-visible (whole-stage-codegen'd, pushdown-able);
no Python executes per row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_PORT_RE = r"^(.*):([0-9]+)$"


def _strip_raw(c: Column) -> Column:
    # .strip() then .rstrip('/') — parsers.py:50.  Java regex \s is ASCII;
    # python str.strip() strips unicode ws too, so use (?U) for parity.
    return F.regexp_replace(F.regexp_replace(c, r"(?U)^\s+|\s+$", ""), "/+$", "")


def domain_parts(c: Column) -> Column:
    """struct(base_domain, port, proto_first, proto_second) — reference-exact
    (parsers.py:38-74).  Protocol order: explicit https -> [https,http],
    explicit http -> [http,https], none -> [https,http]."""
    raw = _strip_raw(c)
    is_https = raw.startswith("https://")
    is_http = (~is_https) & raw.startswith("http://")

    rest = (
        F.when(is_https, raw.substr(F.lit(9), F.length(raw)))
        .when(is_http, raw.substr(F.lit(8), F.length(raw)))
        .otherwise(raw)
    )
    # rest.split('/', 1)[0] — parsers.py:63
    host_part = F.split(rest, "/", 2).getItem(0)
    # rsplit(':', 1) with all-digit port — parsers.py:64-70.  The greedy (.*)
    # reproduces rsplit: 'x.com:8080:9090' -> ('x.com:8080', 9090);
    # 'x.com:notaport' / 'x.com:' don't match -> host kept whole, port null.
    port_str = F.regexp_extract(host_part, _PORT_RE, 2)
    has_port = port_str != F.lit("")
    base_domain = F.when(has_port, F.regexp_extract(host_part, _PORT_RE, 1)).otherwise(host_part)
    port = F.when(has_port, port_str.cast("int"))

    proto_first = F.when(is_http, F.lit("http")).otherwise(F.lit("https"))
    proto_second = F.when(is_http, F.lit("https")).otherwise(F.lit("http"))
    return F.struct(
        base_domain.alias("base_domain"),
        port.alias("port"),
        proto_first.alias("proto_first"),
        proto_second.alias("proto_second"),
    )


_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"


def canonicalize_url(c: Column, default_scheme: str = "https") -> Column:
    """North-star canonical URL: lowercase scheme + host, strip fragment,
    sort query params, default scheme when absent, empty path -> '/'.

    Pure native expressions: regexp_extract + split/array_sort/array_join,
    so Catalyst codegens the whole thing.
    """
    raw = _strip_raw(c)
    scheme_raw = F.regexp_extract(raw, _SCHEME_RE, 1)
    scheme = F.when(scheme_raw == "", F.lit(default_scheme)).otherwise(F.lower(scheme_raw))
    rest = F.regexp_replace(raw, _SCHEME_RE, "")
    # decompose: hostport | path | query | (fragment dropped).  (?s) so URLs
    # containing embedded newlines decompose identically to python urlsplit.
    hostport = F.regexp_extract(rest, r"(?s)^([^/?#]*)", 1)
    # drop userinfo (user:pass@) per urlsplit semantics (host follows the
    # LAST '@' in the authority) — otherwise the first-':' split below
    # takes the username for the host and politeness/dedup keys collapse
    # distinct hosts (the crawl-tier sibling of surt_key's fix)
    hostport = F.regexp_replace(hostport, r"(?s)^.*@", "")
    path = F.regexp_extract(rest, r"(?s)^[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, r"(?s)^[^?#]*\?([^#]*)", 1)
    sorted_query = F.array_join(F.array_sort(F.split(query, "&")), "&")

    host = F.lower(F.regexp_extract(hostport, r"(?s)^([^:]*)", 1))
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)

    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(port != "", F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(query != "", F.concat(F.lit("?"), sorted_query)).otherwise(F.lit("")),
    )


def url_host(canon: Column) -> Column:
    """Host (incl. port) of a canonical URL — politeness partitioning key."""
    return F.regexp_extract(canon, r"^[a-z][a-z0-9+.\-]*://([^/?#]*)", 1)
