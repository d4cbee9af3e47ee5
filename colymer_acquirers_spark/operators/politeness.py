"""Politeness budgets + robots gate (SURVEY.md §2.5 W1, §2.2 P14).

Reference analogs:
- per-site min-interval throttle serialized in ``Site.request_wrapper``
  (``colymer/sites/site.py:30-41``; budgets ``scan.py:98,101,107``) →
  per-host per-round fetch budget via a host-partitioned ranking window.
- login/availability gate (``scan.py:112-116``) → robots deny-prefix filter.

The window partitions by host, so ranking is parallel across hosts; hot-host
skew inside a single window partition is bounded because the budget cut
discards all but `budget` rows immediately after ranking (rank ≤ b), and the
carryover branch reuses the same shuffle output.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, Window

from colymer_acquirers_spark import fragments
from pyspark.sql import functions as F

PATH_RE = r"^[a-z]+://[^/]*(/.*)$"
SORT_KEYS = ["priority", "depth", "canonical_url"]
SKEW_SALT = 16  # phase-1 groups per host in politeness_split

# Plan-invariant Column/WindowSpec fragments are memoized module-wide:
# Column objects are immutable unresolved-expression wrappers, safe to reuse
# across DataFrames and rounds. Rebuilding them each round cost hundreds of
# py4j round trips of serial driver time per crawl round (perfbench's
# ``plans.round.construct_s``).


@fragments.register
@lru_cache(maxsize=8)
def _path_expr(url_col: str):
    return F.regexp_extract(F.col(url_col), PATH_RE, 1)


def with_path(df: DataFrame, url_col: str = "canonical_url") -> DataFrame:
    return df.withColumn("path", _path_expr(url_col))


def budget_from_delay(
    politeness: DataFrame,
    round_seconds: float,
    default_delay_s: float = 1.0,
    max_budget: int = 1_000_000,
) -> DataFrame:
    """Derive per-host per-round fetch budgets from crawl delays — the
    reference's actual politeness model (``Site.request_wrapper`` sleeps
    ``request_interval`` between requests, colymer/sites/site.py:30-41;
    2 s / 15 s per platform, scan.py:98,101,107). A host that must wait
    ``d`` seconds between fetches can serve at most ``round_seconds / d``
    fetches in one round, so the serialized-interval semantics and the
    engine's budget-window semantics schedule the same number of URLs per
    host per round: budget = max(1, floor(round_seconds / delay)).

    Returns politeness with ``max_fetch_per_round`` REPLACED by the
    derived value (NULL/non-positive delays → ``default_delay_s``);
    feed the result to ``politeness_split``/``run_crawl``.
    """
    d = F.coalesce(F.col("crawl_delay_s"), F.lit(float(default_delay_s)))
    d = F.when(d <= 0, F.lit(float(default_delay_s))).otherwise(d)
    budget = F.least(
        F.greatest(F.floor(F.lit(float(round_seconds)) / d), F.lit(1)),
        F.lit(int(max_budget)),
    ).cast("int")
    return politeness.withColumn("max_fetch_per_round", budget)


def robots_filter(
    candidates: DataFrame, robots: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """Split candidates into (allowed, blocked) with real robots.txt
    precedence: among the rules whose path_prefix matches the candidate's
    path (same host), the LONGEST prefix wins; on a length tie, allow wins;
    no matching rule → allowed. (Google REP precedence; generalizes the
    reference's login/availability gate, scan.py:112-116.)

    Plan shape: rules collapse to one array<struct> row per host (tiny) →
    broadcast hash join on host → per-row HOF verdict (filter + array_max
    over (len, allow) structs). No extra shuffle vs the deny-only version;
    whole plan stays map-side.

    NOTE on metric counts: do NOT try to piggyback the blocked count as an
    ``Observation`` on this node — it sits underneath the caller's cached
    politeness chain, and when concurrent jobs co-materialize a cache via
    block locking, each job's observation accumulator sees only the
    partitions that job computed itself (a PARTIAL count). Observations are
    only exact directly above a terminal action. Callers derive the blocked
    count from a count of the cached ``candidates`` input minus the rows
    that pass.

    ``robots`` may be pre-compiled with ``compile_robots`` (one
    array<struct> row per host, column ``__rules``) — loop callers compile
    once and reuse across rounds instead of rebuilding the groupBy plan
    every round.
    """
    cand = with_path(candidates)
    if robots is None:
        return cand.drop("path"), cand.limit(0).drop("path")
    rules_by_host = robots if "__rules" in robots.columns else compile_robots(robots)
    j = cand.join(F.broadcast(rules_by_host), on="host", how="left")
    is_allowed, not_allowed = _robots_verdict_exprs()
    drop = ["path", "__rules"]
    allowed = j.filter(is_allowed).drop(*drop)
    blocked = j.filter(not_allowed).drop(*drop)
    return allowed, blocked


def compile_robots(robots: DataFrame) -> DataFrame:
    """Collapse a (host, path_prefix, allow) rules table to one
    array<struct> row per host — the broadcast side of robots_filter."""
    return robots.groupBy("host").agg(
        F.collect_list(
            F.struct(
                F.length("path_prefix").alias("len"),
                F.col("allow"),
                F.col("path_prefix").alias("prefix"),
            )
        ).alias("__rules")
    )


@fragments.register
@lru_cache(maxsize=1)
def _robots_verdict_exprs():
    applicable = F.filter(
        F.col("__rules"), lambda r: F.col("path").startswith(r["prefix"])
    )
    best = F.array_max(applicable)  # (len, allow) lexicographic: allow>deny
    is_allowed = (
        F.col("__rules").isNull()
        | (F.size(applicable) == 0)
        | best["allow"]
    )
    return is_allowed, ~is_allowed


def politeness_split(
    allowed: DataFrame,
    politeness: DataFrame | None,
    default_budget: int = 1_000_000,
    persisted: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split allowed candidates into (fetched, carryover) per FROZEN SPEC
    step 3: per host, the first budget(host) rows in sort_key order fetch
    this round; the rest carry over unchanged (reference: deferred pages stay
    behind the open block's bottom_cursor, acquirer.py:60-74).

    Skew-safe two-phase top-k (SURVEY.md §7.4 hard part 5): a hot host (the
    fixture puts ~30%% of URLs on one host) would serialize a plain
    per-host window into one giant task. Phase 1 ranks within
    (host, salt=murmur3(canonical_url) mod SKEW_SALT) groups — parallel
    even inside one host — and any row ranked > budget *locally* is already
    > budget globally, so it goes straight to carryover. Phase 2 ranks the
    ≤ SKEW_SALT·budget survivors per host exactly. The fetched set is
    identical to the single-window result (exactness property of two-phase
    top-k).
    """
    frag = _split_fragments(int(default_budget))
    if politeness is not None:
        j = allowed.join(
            F.broadcast(politeness.select("host", "max_fetch_per_round")),
            on="host",
            how="left",
        )
    else:
        j = allowed.withColumn("max_fetch_per_round", frag["null_budget"])
    j = j.withColumn("__b", frag["b"])
    drop_cols = ["__rn", "__b", "max_fetch_per_round", "__salt", "__lrn"]
    j = j.withColumn("__salt", frag["salt"])
    j = j.withColumn("__lrn", frag["lrn"])
    if persisted is not None:
        # every split part (fetched, the rank carryover and the phase-1
        # prunes) derives from the phase-1 frame; caching it makes the
        # upstream robots verdict, budget join and salted window run once
        # per round instead of once per part (the caller owns the
        # unpersist after its terminal actions)
        j = j.persist()
        persisted.append(j)
    survivors = j.filter(frag["lrn_keep"])
    pruned = j.filter(frag["lrn_prune"])

    ranked = survivors.withColumn("__rn", frag["rn"])
    fetched = ranked.filter(frag["rn_keep"]).drop(*drop_cols)
    carryover = (
        ranked.filter(frag["rn_carry"])
        .drop(*drop_cols)
        .unionByName(pruned.drop(*drop_cols))
    )
    return fetched, carryover


@fragments.register
@lru_cache(maxsize=8)
def _split_fragments(default_budget: int) -> dict:
    """Plan-invariant Column fragments of politeness_split, built once per
    default_budget — see module note on py4j round trips."""
    order = [F.col(k).asc() for k in SORT_KEYS]
    w1 = Window.partitionBy("host", "__salt").orderBy(*order)
    w2 = Window.partitionBy("host").orderBy(*order)
    return {
        "null_budget": F.lit(None).cast("int"),
        "b": F.coalesce(F.col("max_fetch_per_round"), F.lit(default_budget)),
        "salt": F.pmod(F.hash(F.col("canonical_url")), F.lit(SKEW_SALT)),
        "lrn": F.row_number().over(w1),
        "lrn_keep": F.col("__lrn") <= F.col("__b"),
        "lrn_prune": F.col("__lrn") > F.col("__b"),
        "rn": F.row_number().over(w2),
        "rn_keep": F.col("__rn") <= F.col("__b"),
        "rn_carry": F.col("__rn") > F.col("__b"),
    }
