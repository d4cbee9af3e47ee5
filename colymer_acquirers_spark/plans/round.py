"""One crawl round as a DataFrame job (SURVEY.md §4.4; FROZEN SPEC in
``pyref.py``).

Reference analog: one trip through ``Acquirer.scan``'s inner loop
(``colymer/acquirers/acquirer.py:24-74``) — fetch a page, dedup against the
chain boundary, parse, extend the block — generalized so one *round* handles
the whole frontier in bulk:

    frontier ─ dedup(seen) ─ robots ─ politeness-window ─⋈ pages ─ parse
             └→ crawl_order / articles / lineage / seen Δ / next frontier

Only two shuffles dominate: the anti-join on canonical_url and the window on
host (the fetch-join reuses the canonical_url clustering under AQE).

Driver-job economy: a round runs a fixed, small number of actions — one
write per output plus the tiny rank-counts collect, ALL submitted to one
thread pool so their planning/commit driver gaps overlap (round-6 gap audit:
the serial driver-only share was ~8-9 s/crawl, core-count-independent, the
Amdahl term behind the N→4N wall-efficiency cap); per-output row counts
ride ``Observation``s directly above the writes, the optional metrics-only
counts (candidates / robots-blocked) join the pool as cache-scan jobs, and
the new-url distinct count runs on the calling thread concurrently — because
on 10^3-round crawls the per-job fixed cost, not the data, is what dominates
wall-clock at the small end.
"""

from __future__ import annotations

import os
import functools
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

# SPARK_GRAFT_TRACE=1 → print driver-side phase timings (plan construction
# vs pooled execution vs bookkeeping) per round
_TRACE = os.environ.get("SPARK_GRAFT_TRACE", "") == "1"


def _trace(label: str, t0: float) -> float:
    t1 = time.monotonic()
    if _TRACE:
        print(f"[trace] {label}: {(t1 - t0)*1000:.0f} ms", flush=True)
    return t1

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from colymer_acquirers_spark import fragments
from colymer_acquirers_spark.functions.canonical import canonicalize_url, host_of
from colymer_acquirers_spark.functions.envelope_expr import (
    envelope_expr,
    page_content_type_expr,
)
from colymer_acquirers_spark.functions.parse import parse_page
from colymer_acquirers_spark.functions.parse_expr import parse_page_expr
from colymer_acquirers_spark.operators.politeness import politeness_split, robots_filter
from colymer_acquirers_spark.operators.ranking import global_rank
from colymer_acquirers_spark.operators.seen import (
    boundary_break_split,
    dedup_against_seen,
    merge_frontier,
)
from colymer_acquirers_spark.operators.seen_bloom import BloomSeen
from colymer_acquirers_spark.sources.tables import write_table

SORT_KEYS = ["priority", "depth", "canonical_url"]


@fragments.register
@functools.lru_cache(maxsize=4)
def _round_cols(parse_impl: str) -> dict:
    """Plan-invariant Column fragments of a crawl round, built ONCE per
    session per parse impl. Column objects are immutable unresolved-
    expression wrappers, safe to reuse across DataFrames and rounds;
    rebuilding them every round cost ~2,000 py4j round trips ≈ 1.3-1.8 s of
    zero-running-task driver time per round (perfbench's
    ``plans.round.construct_s``), a core-count-independent Amdahl term at
    any cluster size."""
    parse_fn = parse_page_expr if parse_impl == "jvm" else parse_page
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
            parse_fn("html", "canonical_url").alias("p"),
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
        ),
        "frontier_cols": (
            "canonical_url", "url", "priority", "depth", "discovered_round",
        ),
        "host": host_of("canonical_url"),
        "n": F.count(F.lit(1)).alias("n"),
    }


@dataclass
class RoundResult:
    seen_delta: DataFrame  # lazy; used for the bloom delta build
    metrics: dict
    persisted: list  # round-local cached DataFrames; unpersist after commit


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
    default_budget: int = 1_000_000,
    parse_impl: str = "jvm",
    boundary_mode: str = "continue",
    bloom: DataFrame | None = None,
    bloom_filter: BloomSeen | None = None,
    metrics_full: bool = True,
    n_frontier: int | None = None,
    pinned_prior: DataFrame | None = None,
) -> RoundResult:
    """Execute FROZEN SPEC steps 1-9 for round ``rnd`` and write the round's
    outputs (crawl_order, articles, lineage, frontier_next) under out_dir.

    parse_impl: 'jvm' (whole-stage-codegen regexp/HOF expressions — default;
    html never leaves the JVM) or 'arrow' (pandas UDF, one Arrow round-trip
    per page). Both implement the same FROZEN RULES, byte-equal by test.

    metrics_full=False skips the metrics-only jobs (candidate/robots/new-url
    counts become -1); results are unchanged.

    A cross-round overlap was measured neutral: OPTIMIZATION_r08.md.
    """
    _t = time.monotonic()
    C = _round_cols(parse_impl)
    if n_frontier is None:
        n_frontier = frontier.count()

    # 1. dedup against seen: exact tier, optionally bloom-prefiltered
    # ('continue' mode), or the 'break' boundary variant (P9)
    # Metric-only counts (candidates / robots-blocked / new-url) do NOT run
    # here as eager jobs — each pre-write action serializes the whole
    # upstream materialization into a driver-gap-ridden AQE job cascade
    # (perfbench's ``spark.idle_core_share``). They run as pooled jobs
    # CONCURRENT with the output writes below, reading the same persisted
    # frames (cache block locking keeps co-materialization exactly-once,
    # and a count job is exact no matter which job computed the cache —
    # unlike an Observation under a cache, whose accumulator would only
    # see the partitions its own job computed).
    boundary_deferred = None
    n_deferred = 0
    extra_persisted: list[DataFrame] = []
    if boundary_mode == "break":
        candidates, boundary_deferred = boundary_break_split(frontier, seen)
        candidates = candidates.persist()
        boundary_deferred = boundary_deferred.persist()
        n_deferred = boundary_deferred.count()
    elif bloom is not None and bloom_filter is not None and seen is not None:
        probed = bloom_filter.probe(frontier, bloom).persist()
        extra_persisted.append(probed)
        unseen = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
        # exact anti-join backstop only for the bloom-positive minority
        candidates = unseen.unionByName(dedup_against_seen(maybe, seen)).persist()
    else:
        candidates = dedup_against_seen(frontier, seen).persist()
    _t = _trace(f"round{rnd} construct:candidates", _t)

    # 2. robots gate
    allowed, blocked = robots_filter(candidates, robots)

    # 3. politeness budget split (ranked intermediate cached so the
    # join+window chain runs once, not once per split half)
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
    # real cluster as on this box.
    _t = _trace(f"round{rnd} construct:politeness-split", _t)
    round_df = frontier.sparkSession.createDataFrame(
        [(rnd,)], schema="__round int"
    )
    fetched = fetched.crossJoin(F.broadcast(round_df)).persist()
    _t = _trace(f"round{rnd} construct:round-df", _t)

    # 4. deterministic global order (scalable rank, not a single window).
    # The rank offsets are a LAZY subplan (operators/ranking.py) — no
    # driver action here; the fetched total + per-partition counts come
    # from rank_info.resolve(), submitted to the write pool below so its
    # one small job overlaps the output writes instead of serializing a
    # ~14-job AQE cascade ahead of them (round-6 gap audit).
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
    # hides behind the others' execution, and — the round-7 gap finding —
    # the remaining py4j plan-construction time for the LATER outputs
    # overlaps the EARLIER writes' execution instead of serializing ahead
    # of all of them. Safe without phases: every shared intermediate
    # (candidates, the politeness-ranked chain, fetched, the rank
    # intermediate, parsed, links) is persisted, and Spark's block-level
    # cache locking makes a concurrent consumer block on an in-progress
    # partition instead of recomputing it — each cache partition is
    # computed exactly once no matter which write job gets there first.
    pool = ThreadPoolExecutor(max_workers=8)

    def _write(df, name):
        # job description is a thread-local Spark property: each pool
        # thread tags its own write so event-log/UI stages attribute to
        # the output they produce (observability at cluster scale;
        # perfbench's ``spark.task_s.<output>`` keys off this)
        df.sparkSession.sparkContext.setJobDescription(
            f"round{rnd}:write:{name}"
        )
        write_table(df, os.path.join(out_dir, name), mode="overwrite")

    _t = _trace(f"round{rnd} construct:rank", _t)
    fs = [
        pool.submit(_write, crawl_order, "crawl_order"),
        # the rank-offset counts collect: one small job over the (by then
        # cached) rank intermediate, overlapped with the writes
        pool.submit(rank_info.resolve),
    ]
    _t = _trace(f"round{rnd} submit:crawl_order", _t)

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
    # 7. parse: content + links + envelope in one pass over html (JVM exprs
    # by default; parse_impl='arrow' moves content/title/links to a single
    # Arrow round-trip while the envelope stays JVM-side); html is dropped
    # before the cache so it is never buffered twice
    parsed = (
        joined.filter(C["html_notnull"])
        .select(*C["parsed1"])
        .select(*C["parsed2"])
    )
    _t = _trace(f"round{rnd} construct:parsed", _t)
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

    # submitted BEFORE any dependent _write_after task: the pool is FIFO
    # with 8 workers and at most two earlier tasks (crawl_order, rank), so
    # this task always gets a worker ahead of anything that blocks on it
    parse_cached = pool.submit(_register_parse_caches)

    def _write_after(df, name):
        parse_cached.result()
        _write(df, name)

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
    nxt = carryover.select(*C["frontier_cols"]).unionByName(new_cands)
    if boundary_deferred is not None:
        nxt = nxt.unionByName(boundary_deferred.select(*C["frontier_cols"]))
    frontier_next = merge_frontier(nxt).withColumn("host", C["host"])
    obs_frontier = Observation()
    fs.append(
        pool.submit(
            _write_after,
            frontier_next.observe(obs_frontier, C["n"]),
            "frontier_next",
        )
    )
    # P7: pinned-entry-once state — each attachment (keyed by id = md5 of
    # its absolute url; all other columns are functions of the url) enters
    # attachments_new exactly once across the whole crawl (reference:
    # pin_ids map, twitter.py:13,135-139 → persisted round-to-round state)
    atts_new = (
        articles.select(*C["atts_explode"])
        .select(*C["atts_sel"])
        .dropDuplicates(["id"])
    )
    if pinned_prior is not None:
        atts_new = atts_new.join(
            pinned_prior.select("id"), on="id", how="left_anti"
        ).select(*C["atts_cols"])
    obs_atts = Observation()
    fs.append(
        pool.submit(
            _write_after, atts_new.observe(obs_atts, C["n"]), "attachments_new"
        )
    )
    _t = _trace(f"round{rnd} submit:frontier+atts", _t)
    fs.append(
        pool.submit(
            _write_after, articles.observe(obs_articles, C["n"]), "articles"
        )
    )
    lineage = links.select(*C["lineage_sel"]).dropDuplicates(
        ["src_url", "dst_url"]
    )
    fs.append(pool.submit(_write_after, lineage, "lineage"))
    _t = _trace(f"round{rnd} plan-construct+submit", _t)

    # metric-only count jobs join the same barrier: they read the persisted
    # frames the writes are materializing anyway, so they cost cache scans,
    # not recomputation, and their driver gaps hide behind the writes
    f_cand = pool.submit(candidates.count) if metrics_full else None
    f_blocked = (
        pool.submit(blocked.count)
        if (metrics_full and robots is not None)
        else None
    )
    if metrics_full:
        # this count plans against the links cache on the calling thread —
        # it must not plan before the cache entry exists (see _write_after)
        parse_cached.result()
        n_new = new_cands.select("canonical_url").distinct().count()
    else:
        n_new = -1
    for f in fs:
        f.result()
    pool.shutdown(wait=True)
    _t = _trace(f"round{rnd} pooled-writes", _t)
    n_fetched = rank_info.total
    n_parsed = obs_articles.get["n"]
    n_miss = n_fetched - n_parsed
    n_new_atts = obs_atts.get["n"]
    n_candidates = f_cand.result() if metrics_full else -1
    n_blocked = (
        0 if robots is None else (f_blocked.result() if metrics_full else -1)
    )
    n_carryover = (
        n_candidates - max(n_blocked, 0) - n_fetched if metrics_full else -1
    )

    metrics = {
        "round": rnd,
        "candidates": n_candidates,
        "deduped": n_frontier - n_candidates - n_deferred if metrics_full else -1,
        "blocked_robots": n_blocked,
        "fetched": n_fetched,
        "throttled": n_carryover + n_deferred if metrics_full else -1,
        "fetch_miss": n_miss,
        "parsed": n_parsed,
        "new_urls": n_new,
        "new_attachments": n_new_atts,
        "frontier_next_count": obs_frontier.get["n"],
        # per-partition fetch counts (north_rule: per-partition metrics),
        # recorded from the rank-offset pass at zero extra cost
        "fetched_by_partition": {
            str(k): v for k, v in rank_info.partition_counts.items()
        },
    }
    _trace(f"round{rnd} metrics-gather", _t)
    return RoundResult(
        seen_delta=seen_delta,
        metrics=metrics,
        persisted=[candidates, fetched, parsed, links]
        + ([boundary_deferred] if boundary_deferred is not None else [])
        + extra_persisted,
    )
