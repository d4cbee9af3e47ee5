"""URL-seen set, exact tier (SURVEY.md §2.3 J1).

Reference analog: the chain-block interval seen-set / min_id dedup boundary
(``colymer/acquirers/acquirer.py:10-22,46``) plus the store's id-keyed
idempotent insert (``colymer/sites/colymer.py:25-31``). The exact tier is a
left-anti join — the truth; the bloom tier (`seen_bloom.py`) is a prefilter
optimization layered in front of it (no false drops ever).

Storage model: append-only per-round deltas (``rounds/K/seen_delta``), the
analog of the reference's checkpoint-after-every-page (``acquirer.py:71-74``).
`compact_seen` is the analog of block splicing/compaction
(``acquirer.py:46-58``): merge deltas into one deduped base.
"""

from __future__ import annotations

from functools import lru_cache

from colymer_acquirers_spark import fragments

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_against_seen(frontier: DataFrame, seen: DataFrame | None) -> DataFrame:
    """Drop frontier rows whose canonical_url is already seen (exact).

    The 'continue' boundary form (SURVEY.md §2.2 P9, twitter.py:145-147):
    seen rows drop, everything else proceeds this round.
    """
    if seen is None:
        return frontier
    return frontier.join(
        seen.select("canonical_url"), on="canonical_url", how="left_anti"
    )


def boundary_break_split(
    frontier: DataFrame, seen: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """The 'break' boundary form (P9, weibo.py:311-313, instagram.py:65-67):
    per host, walk frontier rows in sort_key order; the FIRST seen row stops
    the host's round — it drops (it is seen), unseen rows ranked after it
    defer to the next round.

    Skew-safe formulation: "ranked after the first seen row" ⟺ "sort_key >
    the minimum sort_key among the host's seen rows" (sort_key is a strict
    total order — canonical_url is unique). So instead of two hot-host
    windows (a single task per host at 10^10 rows), compute each host's
    min seen sort_key with an ordinary aggregate (map-side partial combine,
    parallel within a host) and split by one struct comparison after an
    equi-join on host; the boundary side has one row per host, so AQE
    skew-join splitting handles a hot host.

    Returns (candidates, boundary_deferred)."""
    if seen is None:
        return frontier, frontier.limit(0)
    flagged = frontier.join(
        seen.select("canonical_url").withColumn("__seen", F.lit(True)),
        on="canonical_url",
        how="left",
    )
    key = F.struct(
        F.col("priority"), F.col("depth"), F.col("canonical_url")
    )
    boundary = (
        flagged.filter(F.col("__seen"))
        .groupBy("host")
        .agg(F.min(key).alias("__bkey"))
    )
    j = flagged.filter(F.col("__seen").isNull()).join(boundary, on="host", how="left")
    before = F.col("__bkey").isNull() | (key < F.col("__bkey"))
    drop = ["__seen", "__bkey"]
    candidates = j.filter(before).drop(*drop)
    deferred = j.filter(~before).drop(*drop)
    return candidates, deferred


def merge_frontier(df: DataFrame) -> DataFrame:
    """Per canonical_url keep the tuple-min candidate (FROZEN SPEC step 9).

    Lexicographic min over (priority, depth, url, discovered_round) — struct
    min in Spark matches Python tuple min for these types.
    """
    agg, sel = _merge_fragments()
    return df.groupBy("canonical_url").agg(agg).select("canonical_url", *sel)


@fragments.register
@lru_cache(maxsize=1)
def _merge_fragments():
    """Plan-invariant Column fragments (reused across rounds — py4j
    round-trip economy, measured by ``plans.round.construct_s``)."""
    agg = F.min(
        F.struct("priority", "depth", "url", "discovered_round")
    ).alias("m")
    sel = (
        F.col("m.url").alias("url"),
        F.col("m.priority").alias("priority"),
        F.col("m.depth").alias("depth"),
        F.col("m.discovered_round").alias("discovered_round"),
    )
    return agg, sel


def compact_seen(seen_union: DataFrame) -> DataFrame:
    """Compaction job: dedup the union of seen deltas into one base table."""
    return seen_union.select("canonical_url").dropDuplicates(["canonical_url"])
