"""Correctness checks on collected workload outputs.

Every check is plain Python over rows already collected from Spark, so it
is independent of the engine it checks. Each returns (ok, detail).
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from urllib.parse import urlsplit

_PATH_RE = re.compile(r"^[a-z]+://[^/]*(/.*)$")


def order_digest(order: list[tuple[int, str, int]]) -> str:
    """sha256 over the crawl_order rows (rank, url, round) in rank order."""
    h = hashlib.sha256()
    for rank, url, rnd in sorted(order):
        h.update(f"{rank}\t{url}\t{rnd}\n".encode())
    return h.hexdigest()


def ranks_dense(order, rank_total: int):
    ranks = sorted(r for r, _, _ in order)
    ok = ranks == list(range(rank_total))
    return ok, f"{len(ranks)} ranks, expected 0..{rank_total - 1} once each"


def fetched_once(order):
    dup = [u for u, c in Counter(u for _, u, _ in order).items() if c > 1]
    return not dup, f"{len(dup)} URLs fetched more than once, e.g. {dup[:3]}"


def within_budget(order, budgets: dict[str, int], default_budget: int):
    per = Counter((rnd, urlsplit(url).hostname) for _, url, rnd in order)
    over = [
        (k, n) for k, n in per.items() if n > budgets.get(k[1], default_budget)
    ]
    return not over, f"(round, host) over budget: {over[:3]}"


def robots_allowed(order, rules: list[tuple[str, str, bool]]):
    """Longest matching prefix wins; on a tie allow wins; no rule allows."""
    by_host: dict[str, list[tuple[str, bool]]] = {}
    for host, prefix, allow in rules:
        by_host.setdefault(host, []).append((prefix, allow))
    denied = []
    for _, url, _ in order:
        m = _PATH_RE.match(url)
        path = m.group(1) if m else ""
        hits = [(len(p), a) for p, a in by_host.get(urlsplit(url).hostname, [])
                if path.startswith(p)]
        if hits and not max(hits)[1]:
            denied.append(url)
    return not denied, f"{len(denied)} robots-denied URLs fetched, e.g. {denied[:3]}"


def sha_matches(articles: list[tuple[str, str | None, str | None]]):
    bad = [
        u for u, content, sha in articles
        if sha != (None if content is None else hashlib.sha256(content.encode()).hexdigest())
    ]
    return not bad, f"{len(bad)} articles whose text_sha256 != sha256(content)"


def parse_matches(sample: list[tuple[str, bytes, str | None]]):
    """Article content equals the reference text extraction of its page."""
    import pandas as pd

    from colymer_acquirers_spark.functions.parse import extract_text_series

    if not sample:
        return False, "empty parse sample"
    ref = extract_text_series(pd.Series([h for _, h, _ in sample], dtype=object))
    bad = [u for (u, _, c), r in zip(sample, ref) if c != r]
    return not bad, f"{len(bad)}/{len(sample)} sampled pages differ, e.g. {bad[:3]}"


def digest_matches(order, expected: str):
    got = order_digest(order)
    return got == expected, f"crawl_order digest {got} != recorded {expected}"


# -- dedup -----------------------------------------------------------------

def jaccard(a: str, b: str) -> float:
    sa, sb = set(a.split(" ")), set(b.split(" "))
    return len(sa & sb) / len(sa | sb)


def pairs_verified(pairs: list[tuple[int, int, float]], texts: dict[int, str],
                   threshold: float):
    bad = []
    for a, b, j in pairs:
        ref = jaccard(texts[a], texts[b])
        if ref < threshold or abs(ref - j) > 1e-9:
            bad.append((a, b, j, ref))
    return not bad, f"{len(bad)} pairs fail the Jaccard recheck, e.g. {bad[:3]}"


def union_find(pairs) -> dict[int, int]:
    """id -> min id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, *_ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def components_match(pairs, comps: dict[int, int]):
    ref = union_find(pairs)
    bad = [i for i in set(ref) | set(comps) if ref.get(i) != comps.get(i)]
    return not bad, f"{len(bad)} ids whose component != union-find min id"


def planted_recall(planted: list[tuple[int, int]], comps: dict[int, int]) -> float:
    if not planted:
        return 0.0
    hit = sum(
        1 for a, b in planted
        if a in comps and comps.get(a) == comps.get(b)
    )
    return hit / len(planted)


def recall_matches(value: float, expected: float):
    return abs(value - expected) < 1e-12, f"planted_recall {value} != recorded {expected}"
