"""Frozen HTML text/link extraction — the pandas oracle.

The crawl engine runs the JVM mirror (``parse_expr.parse_page_expr``);
pyref, perfbench's checks and the parity tests compare it against these
plain pandas/Python functions. Nothing here becomes a Spark UDF.

Reference analogs:
- text extraction: the ``content`` field choice (``colymer/acquirers/
  weibo.py:171-175,267``, ``twitter.py:92``, ``instagram.py:83``) — the
  byte-identical invariant target per BASELINE.json input_hint.
- link extraction: the media-URL / referenced-post extraction in every
  ``append_*`` helper plus the recursive quote/retweet expansion
  (``twitter.py:105-114``, ``weibo.py:320-334``) — generalized here to
  ``<a href>`` extraction feeding frontier expansion (SURVEY.md §2.9 X6-X8).

FROZEN TEXT RULE — v2 (pyref calls the same series function —
byte-identical by construction):
 1. ONE left-to-right pass replacing each leftmost-first match of the
    ordered alternation ``script-block | style-block | comment | tag``
    with one space (dotall, ci). Earliest match position wins; at equal
    positions the alternation order wins. This is single-pass semantics —
    NOT "remove all script blocks, then all comments, then tags".
 2. decode entities: &lt; &gt; &quot; &#39; &nbsp;(→space), &amp; last
 3. collapse all whitespace runs to single spaces; strip ends

RULE VERSION NOTE (v1 → v2): v1 ran four sequential passes
(script, style, comment, tag). The two versions differ only on
OVERLAPPING constructs — e.g. ``<!-- <script> --> x </script> tail``:
v1's script pass consumed ``<script> --> x </script>`` leaving the
orphaned ``<!--`` as text ('<!-- tail'); v2 removes the comment first
('x tail'). v2 is the frozen rule: a script opener inside a comment is
commented out and must not swallow text beyond the comment — and one
fused scan is what the memory-bandwidth-bound parse path wants. No
golden hashes were persisted under v1 (pyref regenerates them and
shares this constant); tests/test_parse.py pins the v2 values.

FROZEN LINK RULE:
 - hrefs from ``<a ... href="...">`` / ``<a ... href='...'`` (ci)
 - skip empty, ``#...``, and any href with an explicit scheme prefix
   (``[A-Za-z][A-Za-z0-9+.-]*:``) other than http/https — drops
   ``javascript:``, ``mailto:``, ``data:``, ``ftp://``, ``tel:``, …
   (a relative path segment containing ``:`` must be written ``./seg`` per
   RFC 3986 §4.2; bare ``seg:rest`` parses as a scheme and is dropped)
 - absolutize: scheme-relative ``//h/p`` → base scheme; root-relative
   ``/p`` → base origin; other relative → resolved against base directory
   with ``.``/``..`` segment normalization
 - returned in document order, duplicates preserved (canonicalization and
   dedup happen downstream)
"""

from __future__ import annotations

import re

import pandas as pd

# explicit char class (not \s): Python-re \s is unicode-wide while Java \s is
# ASCII-only — the frozen rule pins the exact whitespace set so the pandas
# and JVM implementations agree byte-for-byte
WS_CHARS = " \t\n\r\f\x0b\u00a0"
_WS_CLASS = "[" + WS_CHARS + "]"
_WS_RE = _WS_CLASS + "+"

# fused single-pass strip: ordered alternation script|style|comment|tag —
# one scan over the html instead of four (the parse path is memory-
# bandwidth-bound at high core counts; every full-string pass costs).
# These SINGLE-PASS semantics are the frozen rule (v2 — see the RULE
# VERSION NOTE in the module docstring for the v1 delta on overlapping
# constructs); all three implementations — pandas, JVM, pyref — share
# this constant. A fused strip+ws-collapse scan was measured slower
# (PLANS.md, round-5 parse-path audit).
_STRIP_ALL_RE = "(?is)" + "|".join(
    [
        r"<script\b.*?</script" + _WS_CLASS + r"*>",
        r"<style\b.*?</style" + _WS_CLASS + r"*>",
        r"<!--.*?-->",
        r"<[^>]*>",
    ]
)

_HREF_RE = re.compile(
    r"""(?is)<a\b[^>]*?\bhref""" + _WS_CLASS + r"*=" + _WS_CLASS + r"""*(?:"([^"]*)"|'([^']*)')"""
)
_BASE_RE = re.compile(r"^([a-z][a-z0-9+.-]*)://([^/?#]*)([^?#]*)")
# explicit-scheme detector (RFC 3986 scheme grammar); anything matching that
# is not http(s) is dropped by the FROZEN LINK RULE
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")
_SCHEME_RLIKE = r"^[A-Za-z][A-Za-z0-9+.-]*:"  # JVM mirror (parse_expr)
# FROZEN TITLE RULE: first <title> body, entity-decoded, ws-collapsed,
# stripped; no <title> → empty string (reference: article.title field)
_TITLE_RE = r"(?is)<title[^>]*>(.*?)</title" + _WS_CLASS + r"*>"


def _decode_series(s: pd.Series) -> pd.Series:
    s = s.str.replace("&lt;", "<", regex=False)
    s = s.str.replace("&gt;", ">", regex=False)
    s = s.str.replace("&quot;", '"', regex=False)
    s = s.str.replace("&#39;", "'", regex=False)
    s = s.str.replace("&nbsp;", " ", regex=False)
    s = s.str.replace("&amp;", "&", regex=False)
    return s


def _to_str_series(html: pd.Series) -> pd.Series:
    """Accept str or utf-8 bytes values."""
    if len(html) and isinstance(html.iloc[0], (bytes, bytearray)):
        return html.map(lambda b: b.decode("utf-8", "replace") if b is not None else None)
    return html.map(
        lambda v: v.decode("utf-8", "replace") if isinstance(v, (bytes, bytearray)) else v
    )


def extract_text_series(html: pd.Series) -> pd.Series:
    """Vectorized frozen text extraction over a Series of html (str|bytes)."""
    s = _to_str_series(html).astype("object")
    na = s.isna()
    s = s.fillna("")
    s = s.str.replace(_STRIP_ALL_RE, " ", regex=True)
    s = _decode_series(s)
    s = s.str.replace(_WS_RE, " ", regex=True).str.strip()
    return s.where(~na, None)


def extract_title_series(html: pd.Series) -> pd.Series:
    """Vectorized frozen title extraction (first <title> body → decoded,
    collapsed, stripped; missing → '')."""
    s = _to_str_series(html).astype("object")
    na = s.isna()
    s = s.fillna("").str.extract(_TITLE_RE)[0].fillna("")
    s = _decode_series(s)
    s = s.str.replace(_WS_RE, " ", regex=True).str.strip()
    return s.where(~na, None)


def _normalize_path(path: str) -> str:
    segs: list[str] = []
    for seg in path.split("/"):
        if seg == "." or seg == "":
            continue
        if seg == "..":
            if segs:
                segs.pop()
            continue
        segs.append(seg)
    return "/" + "/".join(segs)


def _join_url(base_scheme: str, base_host: str, base_dir: str, href: str) -> str | None:
    h = href.strip(WS_CHARS)
    if not h or h.startswith("#"):
        return None
    if h.lower().startswith(("http://", "https://")):
        return h
    if _SCHEME_RE.match(h):
        return None  # non-http(s) scheme: javascript:, mailto:, ftp://, tel:, …
    if h.startswith("//"):
        return f"{base_scheme}:{h}"
    if h.startswith("/"):
        return f"{base_scheme}://{base_host}{h}"
    # relative: resolve against base directory, normalize . / ..
    frag_split = h.split("#", 1)[0]
    if not frag_split:
        return None
    path, sep, query = frag_split.partition("?")
    joined = _normalize_path(base_dir + path)
    return f"{base_scheme}://{base_host}{joined}{sep}{query}"


def extract_links_one(html: str | bytes | None, base_url: str | None) -> list[str]:
    """Scalar frozen link extraction (shared with pyref)."""
    if html is None or base_url is None:
        return []
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", "replace")
    m = _BASE_RE.match(base_url.strip())
    if not m:
        return []
    scheme, host, path = m.group(1).lower(), m.group(2).lower(), m.group(3) or "/"
    base_dir = path[: path.rfind("/") + 1] or "/"
    out: list[str] = []
    for g1, g2 in _HREF_RE.findall(html):
        href = g1 if g1 else g2
        j = _join_url(scheme, host, base_dir, href)
        if j is not None:
            out.append(j)
    return out
