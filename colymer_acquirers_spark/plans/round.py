"""One crawl round as a DataFrame job (SURVEY.md §4.4; FROZEN SPEC in
``pyref.py``).

Reference analog: one trip through ``Acquirer.scan``'s inner loop
(``colymer/acquirers/acquirer.py:24-74``) — fetch a page, dedup against the
chain boundary, parse, extend the block — generalized so one *round* handles
the whole frontier in bulk:

    frontier ─ [dedup(seen)] ─ robots ─ politeness-window ─⋈ pages ─ parse
             └→ crawl_order / articles / lineage / seen Δ / next frontier ▷ seen

Step 8's anti-join of the new links against seen ∪ this round's fetches is
the seen check that finds something every round. Step 1's ``[dedup(seen)]``
runs only when the caller passes ``check_seen``: a frontier built from
seeds or reseeds can hold seen urls, but one the previous round wrote
cannot (step 9 dropped them), so checking it again finds nothing.

Two shuffles dominate: step 8's anti-join on canonical_url and the window
on host (the fetch-join reuses the canonical_url clustering under AQE).

Driver-job economy: a round runs a fixed, small number of actions — one
write per output, the tiny rank-counts collect and, in a round due for
compaction, the seen and pinned compaction writes, ALL submitted to one
thread pool so their planning/commit driver gaps overlap (the serial
driver-only share, measured at ~8-9 s/crawl before pooling, is
core-count-independent: the Amdahl term behind the N→4N wall-efficiency
cap) — because on 10^3-round crawls the per-job fixed cost, not the data,
is what dominates wall-clock at the small end. Each pooled task runs
under its own job description (``round{K}:write:{output}`` for the
writes) and clears it when done. The manifest counts ride those jobs:
one ``Observation`` directly above each of the articles, attachments_new
and frontier_next writes (the last counts the merged frontier, its new
urls, and the carryover and boundary-deferred rows from a per-url OR of
source bits), and the fetched total from ``rank_info``. The only count
job is ``candidates.count()``, a pooled cache scan that runs only in a
round that checks seen (robots-blocked = candidates − fetched −
carryover); without the check, candidates is the frontier, whose count
the caller already has.

Parse and canonicalization run as JVM column expressions only
(``parse_expr``, ``envelope_expr``, ``canonical``); html never crosses to
Python. The pandas functions they mirror are the oracle, not an engine
path. No frame of a round is built from a Python list, so a round that
builds no bloom starts no Python worker.
"""

from __future__ import annotations

import functools
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from colymer_acquirers_spark import fragments
from colymer_acquirers_spark.functions.canonical import canonicalize_url, host_of
from colymer_acquirers_spark.functions.envelope_expr import (
    envelope_expr,
    page_content_type_expr,
)
from colymer_acquirers_spark.functions.parse_expr import parse_page_expr
from colymer_acquirers_spark.operators.politeness import politeness_split, robots_filter
from colymer_acquirers_spark.operators.ranking import global_rank
from colymer_acquirers_spark.operators.seen import (
    _merge_fragments,
    boundary_break_split,
    compact_seen,
    dedup_against_seen,
    merge_frontier,
)
from colymer_acquirers_spark.operators.seen_bloom import BloomSeen
from colymer_acquirers_spark.sources.tables import write_table

SORT_KEYS = ["priority", "depth", "canonical_url"]
FRONTIER_COLS = ("canonical_url", "url", "priority", "depth", "discovered_round")
# ``__src`` bits: which step-9 input a next-frontier row came from
SRC_NEW, SRC_CARRY, SRC_DEFERRED = 1, 2, 4


@fragments.register
@functools.lru_cache(maxsize=1)
def _round_cols() -> dict:
    """Plan-invariant Column fragments of a crawl round, built ONCE per
    session. Column objects are immutable unresolved-
    expression wrappers, safe to reuse across DataFrames and rounds;
    rebuilding them every round cost ~2,000 py4j round trips ≈ 1.3-1.8 s of
    zero-running-task driver time per round (perfbench's
    ``plans.round.construct_s``), a core-count-independent Amdahl term at
    any cluster size."""
    return {
        "crawl_order": (
            "rank",
            F.col("canonical_url").alias("url"),
            F.col("__round").alias("round"),
        ),
        "fetched_slim": ("canonical_url", "url", "priority", "depth", "__round"),
        "pages_slim": ("canonical_url", "html", "lang", "warc_ts"),
        "html_notnull": F.col("html").isNotNull(),
        "parsed1": (
            "canonical_url", "url", "priority", "depth", "lang", "warc_ts",
            "__round",
            parse_page_expr("html", "canonical_url").alias("p"),
            envelope_expr("html", "canonical_url").alias("env"),
        ),
        "parsed2": (
            "canonical_url", "url", "priority", "depth", "lang", "warc_ts",
            "__round",
            F.col("p.content").alias("content"),
            F.col("p.title").alias("title"),
            F.col("p.links").alias("links"),
            "env",
        ),
        "articles": (
            F.col("url"),
            F.col("canonical_url"),
            "title",
            "content",
            page_content_type_expr(F.col("canonical_url")).alias("content_type"),
            F.col("env.author_id").alias("author_id"),
            F.col("env.author_name").alias("author_name"),
            F.coalesce(F.col("env.published"), F.col("warc_ts")).alias("time"),
            "lang",
            F.col("__round").alias("round"),
            F.col("priority").cast("int").alias("priority"),
            F.col("depth").cast("int").alias("depth"),
            F.col("env.version").alias("version"),
            F.col("env.original_data").alias("original_data"),
            F.col("env.attachments").alias("attachments"),
            F.sha2(F.col("content").cast("binary"), 256).alias("text_sha256"),
        ),
        "atts_explode": ("round", F.explode("attachments").alias("a")),
        "atts_sel": (
            "round",
            F.col("a.id").alias("id"),
            F.col("a.original_url").alias("original_url"),
            F.col("a.content_type").alias("content_type"),
            F.col("a.filename").alias("filename"),
        ),
        "atts_cols": ("round", "id", "original_url", "content_type", "filename"),
        "links_sel": (
            F.col("canonical_url").alias("src_url"),
            "priority",
            "depth",
            "__round",
            F.explode("links").alias("raw_url"),
        ),
        "dst_url": canonicalize_url("raw_url"),
        "dst_notnull": F.col("dst_url").isNotNull(),
        "lineage_sel": (F.col("__round").alias("round"), "src_url", "dst_url"),
        "new_cands_sel": (
            F.col("dst_url").alias("canonical_url"),
            F.col("raw_url").alias("url"),
            F.col("priority"),
            (F.col("depth") + 1).cast("int").alias("depth"),
            (F.col("__round") + 1).cast("int").alias("discovered_round"),
            F.lit(SRC_NEW).alias("__src"),
        ),
        "carry_cols": (*FRONTIER_COLS, F.lit(SRC_CARRY).alias("__src")),
        "deferred_cols": (*FRONTIER_COLS, F.lit(SRC_DEFERRED).alias("__src")),
        "src_or": F.bit_or("__src").alias("__src"),
        "host": host_of("canonical_url"),
        "n": F.count(F.lit(1)).alias("n"),
        "frontier_counts": (
            F.count(F.lit(1)).alias("n"),
            *(
                F.count_if(F.col("__src").bitwiseAND(bit) != 0).alias(name)
                for name, bit in (
                    ("new", SRC_NEW), ("carry", SRC_CARRY), ("deferred", SRC_DEFERRED)
                )
            ),
        ),
    }


def _described(sc, desc: str, fn, *args):
    """Run ``fn(*args)`` under Spark job description ``desc``, then clear
    it. The description is a thread-local property: a pool thread reused
    for another task would otherwise tag that task's jobs with this name."""
    sc.setJobDescription(desc)
    try:
        return fn(*args)
    finally:
        sc.setJobDescription(None)


@dataclass
class RoundResult:
    metrics: dict
    persisted: list  # round-local cached DataFrames; unpersist after commit
    phases_s: dict  # driver wall seconds: construct, writes, metrics


def bootstrap_frontier(seeds: DataFrame) -> DataFrame:
    """Seeds → round-0 frontier (FROZEN SPEC init)."""
    f = seeds.select(
        canonicalize_url("url").alias("canonical_url"),
        F.col("url"),
        F.col("priority").cast("int"),
        F.lit(0).cast("int").alias("depth"),
        F.lit(0).cast("int").alias("discovered_round"),
    ).filter(F.col("canonical_url").isNotNull())
    return merge_frontier(f).withColumn("host", host_of("canonical_url"))


def keyed_pages(pages: DataFrame, cluster: bool = True) -> DataFrame:
    """pages + canonical_url join key (null-canonical pages unreachable).

    cluster=True pre-partitions by the join key (the in-memory analog of
    storing the warehouse pages table bucketed by canonical_url): the
    cached layout then SATISFIES every round's fetch-join distribution
    requirement, so the html bytes are shuffled ZERO times per crawl —
    only the tiny frontier side moves each round."""
    k = pages.withColumn("canonical_url", canonicalize_url("url")).filter(
        F.col("canonical_url").isNotNull()
    )
    if cluster:
        n = int(pages.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        k = k.repartition(n, F.col("canonical_url"))
    return k




def run_round(
    frontier: DataFrame,
    seen: DataFrame | None,
    pages_k: DataFrame,
    politeness: DataFrame | None,
    robots: DataFrame | None,
    rnd: int,
    rank_offset: int,
    out_dir: str,
    n_frontier: int,
    check_seen: bool,
    default_budget: int = 1_000_000,
    boundary_mode: str = "continue",
    bloom_filter: BloomSeen | None = None,
    pinned_prior: DataFrame | None = None,
    compact_to: tuple[str, str] | None = None,
) -> RoundResult:
    """Execute FROZEN SPEC steps 1-9 for round ``rnd`` and write the round's
    outputs (crawl_order, articles, lineage, frontier_next) under out_dir.
    ``n_frontier`` is the input frontier's row count (the caller has it
    from the previous round's frontier_next Observation).

    ``check_seen`` runs step 1 against ``seen``, which must then be given.
    Pass it only for a frontier that can hold seen urls; a frontier_next
    that round K-1 wrote is disjoint from seen as of K-1, so without the
    check candidates = frontier and nothing is deduped or deferred.
    ``bloom_filter``, used in continue mode, is built from ``seen`` and
    probed first, so the exact anti-join sees only bloom-positive rows.

    ``compact_to`` = (seen path, pinned path) also writes, in the same
    pool, the seen compaction ``seen ∪ fetched`` and the pinned one
    ``pinned_prior ∪ this round's attachment ids``: the sets ``read_seen``
    and ``read_pinned`` give for this round once it commits.

    A cross-round overlap was measured neutral: OPTIMIZATION_r08.md.
    """
    t_start = time.monotonic()
    C = _round_cols()

    # 1. dedup against seen: exact, bloom-prefiltered with an exact
    # backstop ('continue' mode), or the 'break' boundary variant (P9).
    # No count runs here as an eager job: each pre-write action serializes
    # the whole upstream materialization into a driver-gap-ridden AQE job
    # cascade (perfbench's ``spark.idle_core_share``). The counts come from
    # Observations directly above the writes below: one under a shared
    # cache would see only the partitions its own job computed, and one
    # under a shuffle can lose its fields to an AQE-pruned empty stage or
    # double-count a resubmitted map stage.
    boundary_deferred = None
    extra_persisted: list[DataFrame] = []
    if not check_seen:
        candidates = frontier
    elif boundary_mode == "break":
        candidates, boundary_deferred = boundary_break_split(frontier, seen)
        candidates = candidates.persist()
    elif bloom_filter is not None:
        bloom = bloom_filter.build_delta(seen)
        probed = bloom_filter.probe(frontier, bloom).persist()
        extra_persisted.append(probed)
        unseen = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
        # exact anti-join backstop only for the bloom-positive minority
        candidates = unseen.unionByName(dedup_against_seen(maybe, seen)).persist()
    else:
        candidates = dedup_against_seen(frontier, seen).persist()
    if check_seen:
        extra_persisted.append(candidates)

    # 2. robots gate
    allowed, _ = robots_filter(candidates, robots)

    # 3. politeness budget split (the phase-1 frame is cached so the
    # robots verdict, budget join and salted window run once, not once per
    # split part)
    fetched, carryover = politeness_split(
        allowed, politeness, default_budget, persisted=extra_persisted
    )
    # Attach the round number as DATA (1-row broadcast cross join), not as
    # F.lit(rnd): an inline int literal lands in the generated Java source
    # of every downstream codegen stage, so each round produced *distinct*
    # source for the giant parse/envelope projection classes — a fresh
    # janino compile plus fresh C2 JIT work per round per stage
    # (thread-level audit: JIT compiler threads burned ~50% of all crawl
    # JVM CPU, more than the executor tasks themselves). With the value
    # flowing through a BoundReference the source is round-invariant and
    # the codegen cache (sized in session.py) makes rounds 1..R compile
    # nothing new — JIT cost becomes O(1) in the number of rounds, on a
    # real cluster as on this box. The row is a JVM Range: a
    # createDataFrame([...]) frame scans a Python RDD, and its broadcast
    # runs a Python worker per task.
    round_df = frontier.sparkSession.range(rnd, rnd + 1, 1, 1).select(
        F.col("id").cast("int").alias("__round")
    )
    fetched = fetched.crossJoin(F.broadcast(round_df)).persist()

    # 4. deterministic global order (scalable rank, not a single window).
    # The rank offsets are a LAZY subplan (operators/ranking.py) — no
    # driver action here; the fetched total + per-partition counts come
    # from rank_info.resolve(), submitted to the write pool below so its
    # one small job overlaps the output writes instead of serializing a
    # ~14-job AQE cascade ahead of them.
    ranked, rank_info = global_rank(
        fetched, SORT_KEYS, "rank", start=rank_offset, return_info=True
    )
    extra_persisted.append(rank_info.persisted)
    crawl_order = ranked.select(*C["crawl_order"])

    # All round outputs go through the Iceberg-shaped table layer (catalog
    # tables in production; committed parquet dirs here) — the round
    # manifest remains the round-level commit marker. Writes are submitted
    # to ONE pool PROGRESSIVELY, each as soon as its frame is constructed:
    # Spark interleaves their tasks (filling executor slots one sequential
    # job would idle), each job's 0.6-0.9 s driver-only planning/commit gap
    # hides behind the others' execution, and the remaining py4j
    # plan-construction time for the LATER outputs overlaps the EARLIER
    # writes' execution instead of serializing ahead of all of them. Safe
    # without phases: every shared intermediate (checked candidates, the
    # politeness phase-1 frame, fetched, the rank intermediate, parsed,
    # links) is persisted, and Spark's block-level cache locking makes a
    # concurrent consumer block on an in-progress partition instead of
    # recomputing it — each cache partition is computed exactly once no
    # matter which write job gets there first.
    pool = ThreadPoolExecutor(max_workers=10)
    sc = frontier.sparkSession.sparkContext

    def _submit(desc, fn, *args):
        # each task tags its jobs so event-log/UI stages attribute to what
        # it produces (perfbench's ``spark.task_s.<output>`` keys off the
        # write tags)
        return pool.submit(_described, sc, f"round{rnd}:{desc}", fn, *args)

    def _write(name, df, after=None, path=None):
        def run():
            if after is not None:
                after.result()
            write_table(df, path or os.path.join(out_dir, name), mode="overwrite")

        return _submit(f"write:{name}", run)

    fs = [_write("crawl_order", crawl_order)]
    # the rank-offset counts collect: one small job over the (by then
    # cached) rank intermediate, overlapped with the writes
    f_rank = _submit("rank_counts", rank_info.resolve)

    # 5. seen delta (not written — identical to crawl_order's url column)
    seen_delta = fetched.select("canonical_url")

    # 6. fetch-simulate: equi-join on canonical_url (left: misses = dangling).
    # shuffle_hash hint, two reasons (both found by event-log audit — a
    # 53 s / 2-task parse window at local[8]):
    #  (a) NEVER broadcast the pages side. Catalyst's size estimate for a
    #      stats-less pages relation can be absurdly low (a range-derived
    #      source estimates bytes-per-row of the pre-projection schema),
    #      and a broadcast of the html-bearing table is instant death at
    #      scale — the frontier side is the small side, always.
    #  (b) a broadcast join would make the parse stage INHERIT the left
    #      side's host-partitioned, hot-host-skewed layout; the shuffled
    #      join repartitions on canonical_url, which is uniform, and with
    #      pages pre-clustered on the key (keyed_pages) only the tiny url
    #      list actually moves.
    joined = (
        fetched.select(*C["fetched_slim"])
        .hint("shuffle_hash")
        .join(
            pages_k.select(*C["pages_slim"]),
            on="canonical_url",
            how="left",
        )
    )
    # 7. parse: content + links + envelope in one pass over html, all JVM
    # exprs; html is dropped before the cache so it is never buffered twice
    parsed = (
        joined.filter(C["html_notnull"])
        .select(*C["parsed1"])
        .select(*C["parsed2"])
    )
    # full article envelope (schemas.ARTICLES; reference envelope
    # weibo.py:215-231, twitter.py:86-103): author/time/content_type/
    # version/raw passthrough/attachments, FROZEN ENVELOPE RULES; crawl
    # provenance (priority, depth) as typed columns
    articles = parsed.select(*C["articles"])
    obs_articles = Observation()
    links = (
        parsed.select(*C["links_sel"])
        .withColumn("dst_url", C["dst_url"])
        .filter(C["dst_notnull"])
    )
    # persist() runs the Catalyst ANALYZER eagerly (CacheManager.cacheQuery
    # analyzes the plan to register it), and the parse/envelope tree costs
    # ~0.25-1 s of driver-JVM time per round — measured as the dominant
    # main-thread construction phase. Registering the two parse-side
    # caches on a pool thread takes that off the serial path; every write
    # that reads them gates on the future so no consumer job can PLAN
    # before the cache entries exist (planning before registration would
    # silently recompute the parse once per consumer).
    def _register_parse_caches():
        parsed.persist()
        links.persist()

    # submitted BEFORE any write that waits on it: the pool is FIFO with a
    # worker for each of its (at most 10) tasks, so this task always gets
    # a worker ahead of anything that blocks on it
    parse_cached = _submit("cache:parse", _register_parse_caches)

    # 8. expand: per dst, tuple-min over parents; exclude seen ∪ this round
    seen_now = (
        seen.select("canonical_url").union(seen_delta)
        if seen is not None
        else seen_delta
    )
    new_cands = links.select(*C["new_cands_sel"]).join(
        seen_now, on="canonical_url", how="left_anti"
    )

    # 9. merge next frontier (boundary-deferred rows re-enter unchanged).
    # Submission order: the dependency-bearing outputs (frontier_next —
    # the next round's input — and attachments_new) are submitted before
    # articles/lineage, so FIFO gives the critical-path job first claim
    # on freed slots while the post-parse tail backfills.
    # Each row carries its source as a bit in ``__src`` and the merge ORs
    # them per url, so the one Observation directly above this write
    # counts the merged frontier, its distinct new urls, and the carryover
    # and deferred rows (both are frontier subsets: unique, disjoint urls).
    nxt = carryover.select(*C["carry_cols"]).unionByName(new_cands)
    if boundary_deferred is not None:
        nxt = nxt.unionByName(boundary_deferred.select(*C["deferred_cols"]))
    merge_agg, merge_sel = _merge_fragments()
    obs_frontier = Observation()
    frontier_next = (
        nxt.groupBy("canonical_url")
        .agg(merge_agg, C["src_or"])
        .select("canonical_url", *merge_sel, "__src")
        .withColumn("host", C["host"])
        .observe(obs_frontier, *C["frontier_counts"])
        .drop("__src")
    )
    fs.append(_write("frontier_next", frontier_next, parse_cached))
    # P7: pinned-entry-once state — each attachment (keyed by id = md5 of
    # its absolute url; all other columns are functions of the url) enters
    # attachments_new exactly once across the whole crawl (reference:
    # pin_ids map, twitter.py:13,135-139 → persisted round-to-round state)
    round_atts = articles.select(*C["atts_explode"]).select(*C["atts_sel"])
    atts_new = round_atts.dropDuplicates(["id"])
    if pinned_prior is not None:
        atts_new = atts_new.join(
            pinned_prior.select("id"), on="id", how="left_anti"
        ).select(*C["atts_cols"])
    obs_atts = Observation()
    fs.append(
        _write("attachments_new", atts_new.observe(obs_atts, C["n"]), parse_cached)
    )
    fs.append(
        _write("articles", articles.observe(obs_articles, C["n"]), parse_cached)
    )
    lineage = links.select(*C["lineage_sel"]).dropDuplicates(
        ["src_url", "dst_url"]
    )
    fs.append(_write("lineage", lineage, parse_cached))
    if compact_to is not None:
        # state compaction (reference analog: block splicing,
        # acquirer.py:46-58) beside the outputs, on cores their small
        # stages leave idle. This round's attachment ids ∪ pinned_prior
        # is pinned_prior ∪ atts_new without atts_new's anti-join.
        seen_path, pinned_path = compact_to
        fs.append(_write("seen_compact", compact_seen(seen_now), path=seen_path))
        pinned = round_atts.select("id")
        if pinned_prior is not None:
            pinned = pinned_prior.select("id").unionByName(pinned)
        pinned = pinned.dropDuplicates(["id"])
        fs.append(_write("pinned_compact", pinned, parse_cached, pinned_path))

    # the one count job, only in a round that ran step 1 (otherwise
    # candidates is the frontier, counted already): a scan of the
    # candidates cache the writes fill. Counting the blocked rows instead
    # re-runs the robots verdict and measured ~12% slower per recrawl round.
    f_cand = _submit("count:candidates", candidates.count) if check_seen else None
    t_submitted = time.monotonic()
    for f in fs:
        f.result()
    pool.shutdown(wait=True)
    t_written = time.monotonic()
    partition_counts = f_rank.result()
    n_fetched = sum(partition_counts.values())
    n_parsed = obs_articles.get["n"]
    frontier_counts = obs_frontier.get
    n_carryover = frontier_counts["carry"]
    n_deferred = frontier_counts["deferred"]
    n_allowed = n_fetched + n_carryover
    n_candidates = f_cand.result() if f_cand is not None else n_frontier

    metrics = {
        "round": rnd,
        "candidates": n_candidates,
        "deduped": n_frontier - n_candidates - n_deferred,
        "blocked_robots": n_candidates - n_allowed,
        "fetched": n_fetched,
        "throttled": n_carryover + n_deferred,
        "fetch_miss": n_fetched - n_parsed,
        "parsed": n_parsed,
        "new_urls": frontier_counts["new"],
        "new_attachments": obs_atts.get["n"],
        "frontier_next_count": frontier_counts["n"],
        # per-partition fetch counts (north_rule: per-partition metrics),
        # recorded from the rank-offset pass at zero extra cost
        "fetched_by_partition": {str(k): v for k, v in partition_counts.items()},
    }
    t_end = time.monotonic()
    return RoundResult(
        metrics=metrics,
        persisted=[fetched, parsed, links] + extra_persisted,
        phases_s={
            "construct": round(t_submitted - t_start, 3),
            "writes": round(t_written - t_submitted, 3),
            "metrics": round(t_end - t_written, 3),
        },
    )
