"""URL canonicalization — the frozen rule everything keys on.

Reference analog: per-platform URL construction/parsing scattered across 7
sites (``colymer/acquirers/weibo.py:32-35,96``, ``instagram.py:16,30``,
``twitter.py:17,38``, ``colymer/sites/colymer.py:11-12``). The engine
generalizes those into one canonical form; the murmur3 of this string is the
sharding key for the seen-set (north_rule: "salted-hash sharded by
canonicalized-URL murmur3").

FROZEN CANONICALIZATION SPEC. The engine runs it as JVM column
expressions (``canonicalize_url``, ``host_of``); the pandas ``*_series``
functions are the oracle that pyref and the parity tests compare against.

1. Only absolute ``http``/``https`` URLs are canonical; anything else → null
   (dropped from the frontier).
2. Scheme and host lowercased; userinfo stripped; default ports (http:80,
   https:443) removed; other ports kept.
3. Fragment dropped.
4. Empty path → ``/``; percent-encoding and case of path preserved.
5. Query: split on ``&``, empty params dropped, params sorted
   lexicographically, rejoined; empty query → no ``?``.

The oracle is pandas-vectorized; its only per-element Python is the
query-param sort, applied to the minority of URLs that carry a query string.
"""

from __future__ import annotations

from functools import lru_cache

from colymer_acquirers_spark import fragments

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# scheme :// [userinfo@] host [:port] path [?query] [#fragment]
_URL_RE = (
    r"^([A-Za-z][A-Za-z0-9+.-]*)://(?:([^/?#@]*)@)?([^/?#:@]*)(?::(\d+))?"
    r"([^?#]*)(?:\?([^#]*))?(?:#.*)?$"
)

_DEFAULT_PORT = {"http": "80", "https": "443"}


def _sort_query(q: str) -> str:
    parts = [p for p in q.split("&") if p]
    parts.sort()
    return "&".join(parts)


def canonicalize_url_series(urls: pd.Series) -> pd.Series:
    """Vectorized canonicalization of a Series of URL strings → Series."""
    s = urls.astype("object").fillna("")
    m = s.str.extract(_URL_RE)
    scheme = m[0].str.lower()
    host = m[2].str.lower()
    port = m[3]
    path = m[4]
    query = m[5]

    valid = scheme.isin(["http", "https"]) & host.notna() & (host != "")

    default_port = scheme.map(_DEFAULT_PORT)
    port = port.where(port.notna() & (port != default_port), None)
    hostport = host.where(port.isna(), host + ":" + port.fillna(""))

    path = path.fillna("")
    path = path.where(path != "", "/")

    has_q = query.notna() & (query != "")
    sorted_q = query[has_q].map(_sort_query)
    qpart = pd.Series("", index=s.index, dtype="object")
    if has_q.any():
        nonempty = sorted_q != ""
        qpart.loc[sorted_q.index[nonempty]] = "?" + sorted_q[nonempty]

    out = scheme + "://" + hostport + path + qpart
    return out.where(valid, None)


def host_of_series(canonical_urls: pd.Series) -> pd.Series:
    """host[:port] component of an already-canonical URL."""
    s = canonical_urls.astype("object")
    return s.str.extract(r"^[a-z]+://([^/]*)")[0]


def canonicalize_url(col: Column | str) -> Column:
    """Spark column: canonical form of a URL column (null if not canonical).

    Pure JVM column expressions (whole-stage codegen; zero Python
    round-trips) implementing the same FROZEN SPEC as
    ``canonicalize_url_series`` — property-tested equal on every fixture
    (tests/test_canonical_expr.py). This is the hottest key computation in
    the engine (every frontier row, every extracted link, every page), so it
    must not cross the JVM↔Python boundary.

    String-keyed calls are memoized: Column objects are immutable unresolved
    expression wrappers, so reusing one across plans/rounds is safe and
    saves ~40 py4j round trips per construction (per-round driver plan-
    construction time is a measured serial wall cost — perfbench's
    ``plans.round.construct_s``).
    """
    if isinstance(col, str):
        return _canonicalize_url_cached(col)
    return _canonicalize_url_build(col)


@fragments.register
@lru_cache(maxsize=64)
def _canonicalize_url_cached(col: str) -> Column:
    return _canonicalize_url_build(F.col(col))


def _canonicalize_url_build(u: Column) -> Column:
    scheme = F.lower(F.regexp_extract(u, _URL_RE, 1))
    host = F.lower(F.regexp_extract(u, _URL_RE, 3))
    port = F.regexp_extract(u, _URL_RE, 4)
    path = F.regexp_extract(u, _URL_RE, 5)
    query = F.regexp_extract(u, _URL_RE, 6)

    default_port = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    port_part = F.when(default_port | (port == ""), F.lit("")).otherwise(
        F.concat(F.lit(":"), port)
    )
    path_part = F.when(path == "", F.lit("/")).otherwise(path)
    sorted_q = F.array_join(
        F.array_sort(F.filter(F.split(query, "&"), lambda x: x != "")), "&"
    )
    q_part = F.when(sorted_q == "", F.lit("")).otherwise(F.concat(F.lit("?"), sorted_q))

    valid = scheme.isin("http", "https") & (host != "")
    return F.when(
        valid, F.concat(scheme, F.lit("://"), host, port_part, path_part, q_part)
    ).otherwise(F.lit(None).cast("string"))


def host_of(col: Column | str) -> Column:
    """Spark column: host[:port] of a canonical URL column (JVM expr)."""
    if isinstance(col, str):
        return _host_of_cached(col)
    return F.regexp_extract(col, r"^[a-z]+://([^/]*)", 1)


@fragments.register
@lru_cache(maxsize=64)
def _host_of_cached(col: str) -> Column:
    return F.regexp_extract(F.col(col), r"^[a-z]+://([^/]*)", 1)
